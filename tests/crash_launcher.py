"""Run the package CLI with a `CrashInjector` armed to SIGKILL this
process at one `Moment` of `stage_and_publish`, given as JSON:

    python tests/crash_launcher.py '{"path": DIR, "call": "replace", "after": true}' etl ...
"""

from __future__ import annotations

import json
import os
import sys

if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from crash_injector import CrashInjector, Moment

    from stream_ingestion_amazon_kinesis_spark.__main__ import main

    CrashInjector(Moment(**json.loads(sys.argv[1]))).install()
    sys.exit(main(sys.argv[2:]))
