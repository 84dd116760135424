"""Crash injection for the exactly-once tests, from outside the package.

`CrashInjector.install` wraps the filesystem calls that staging and
publishing make (os.replace, os.remove, os.makedirs, os.rmdir,
shutil.rmtree and a write-mode open) and counts them while
`streaming.pipeline.stage_and_publish` runs, on the thread that entered
it. Nested calls count too (os.makedirs creating a parent, the
os.rmdir inside shutil.rmtree): each one leaves the filesystem in a
state of its own. Just before the call the injector is armed at, it
either SIGKILLs its own process, a real kill -9 that runs no `finally`
block and no atexit handler, or raises `InjectedCrash`, once.

It is armed at a call number k, or at a `Moment`, which names a call
by what it does rather than by its number.
"""

from __future__ import annotations

import builtins
import dataclasses
import functools
import os
import shutil
import signal
import threading

WRAPPED = ((os, "replace"), (os, "remove"), (os, "makedirs"), (os, "rmdir"), (shutil, "rmtree"))


class InjectedCrash(RuntimeError):
    pass


@dataclasses.dataclass(frozen=True)
class Moment:
    """The first wrapped `call` (any, when None) with a path argument
    under `path`; with `after`, the wrapped call that follows it."""

    path: str
    call: str | None = None
    after: bool = False


def _writes(args, kwargs) -> bool:
    mode = args[1] if len(args) > 1 else kwargs.get("mode", "r")
    return any(c in mode for c in "wax+")


class CrashInjector:
    def __init__(self, at: int | Moment | None, kill: bool = True):
        self._thread = None
        self.arm(at, kill)

    def arm(self, at: int | Moment | None, kill: bool = True) -> None:
        """Crash at `at` (never, when None), counting from call 1 again."""
        self.at, self.kill, self.calls, self.fired = at, kill, 0, False

    def install(self, setattr=setattr) -> None:
        """Wrap the filesystem calls and `stage_and_publish`; pass
        pytest's `monkeypatch.setattr` to have them restored."""
        from stream_ingestion_amazon_kinesis_spark.streaming import pipeline

        for module, name in WRAPPED:
            setattr(module, name, self._wrap(getattr(module, name), name))
        setattr(builtins, "open", self._wrap(builtins.open, "open", _writes))
        setattr(pipeline, "stage_and_publish", self._scope(pipeline.stage_and_publish))

    def _scope(self, fn):
        @functools.wraps(fn)
        def scoped(*args, **kwargs):
            self._thread = threading.get_ident()
            try:
                return fn(*args, **kwargs)
            finally:
                self._thread = None

        return scoped

    def _wrap(self, fn, name: str, counts=lambda args, kwargs: True):
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            if self._thread == threading.get_ident() and counts(args, kwargs):
                self._tick(name, args)
            return fn(*args, **kwargs)

        return wrapped

    def _tick(self, name: str, args) -> None:
        self.calls += 1
        at = self.at
        if (
            isinstance(at, Moment)
            and at.call in (None, name)
            and any(isinstance(a, str) and a.startswith(at.path) for a in args)
        ):
            self.at = at = self.calls + 1 if at.after else self.calls
        if self.fired or self.calls != at:
            return
        self.fired = True
        if self.kill:
            os.kill(os.getpid(), signal.SIGKILL)
        raise InjectedCrash(f"crash injector failpoint: filesystem call {at} ({name})")
