"""Source-level lint pins for failure modes tests can't catch at runtime.

Round 10 shipped a silently-broken oracle: `dedup_canonical_selection`
composed its SQL via `_QUERIES[...].oracle.replace(old, new)`, a
refactor changed the donor oracle so `old` no longer occurred, and
`.replace()` NO-OPed — the query inherited the donor's schema and only
a full pytest run (not the driver's rotated window) caught it. Oracle
SQL must be composed from shared prefix CONSTANTS plus explicit tails
(the `_NEARDUP_COMP_SQL + tail` pattern), never by patching another
query's registered string.
"""

from __future__ import annotations

import os

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "stream_ingestion_amazon_kinesis_spark",
)


def test_no_oracle_string_patching():
    offenders = []
    for root, _dirs, files in os.walk(_PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            with open(path, encoding="utf-8") as fh:
                for i, line in enumerate(fh, 1):
                    if ".oracle.replace(" in line:
                        offenders.append(f"{path}:{i}: {line.strip()}")
    assert not offenders, (
        "oracle SQL composed by patching another query's registered "
        "string — a donor refactor makes .replace() silently no-op "
        "(round-10 dedup_canonical_selection break). Compose from a "
        "shared prefix constant + explicit tail instead:\n"
        + "\n".join(offenders)
    )


def test_readme_surface_counts_match_registry():
    import re

    from stream_ingestion_amazon_kinesis_spark.plans.registry import (
        QUERIES,
        _load_all,
    )

    _load_all()
    readme = os.path.join(os.path.dirname(_PKG), "README.md")
    with open(readme, encoding="utf-8") as f:
        m = re.search(
            r"(\d+) registered queries \((\d+) with exact", f.read()
        )
    assert m, "README surface-count sentence missing"
    n_oracle = sum(1 for s in QUERIES.values() if s.oracle is not None)
    assert (int(m.group(1)), int(m.group(2))) == (len(QUERIES), n_oracle), (
        f"README says {m.groups()}, registry has "
        f"({len(QUERIES)}, {n_oracle}) — update README.md"
    )


def test_checkpoint_file_manager_set_only_in_session():
    """The offset and commit logs go through the checkpoint file manager
    that `session.get_spark` sets, over the checksummed LocalFileSystem.
    Setting the manager anywhere else forks the session default, and
    `fs.file.impl` / RawLocalFileSystem would silently drop the `.crc`
    sidecars that catch a corrupted offset file; no runtime test fails
    when they go. Comments may name them."""
    offenders, setters = [], []
    for root, _dirs, files in os.walk(_PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            with open(path, encoding="utf-8") as fh:
                for i, line in enumerate(fh, 1):
                    code = line.split("#", 1)[0]
                    if "checkpointFileManagerClass" in code:
                        setters.append(os.path.relpath(path, _PKG))
                    if "fs.file.impl" in code or "RawLocalFileSystem" in code:
                        offenders.append(f"{path}:{i}: {line.strip()}")
    assert setters == ["session.py"], setters
    assert not offenders, "\n".join(offenders)
