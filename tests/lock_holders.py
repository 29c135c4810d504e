"""Writers in another process, for the tests of the engine's one lock
(``io.exclusive``).

``live_holder(lock)`` holds ``lock`` in a child process for the body of
its ``with``. ``killed_holder(lock, *files)`` takes ``lock`` in a child,
creates ``files`` while it holds it, and SIGKILLs the child: the kernel
then drops the lock exactly as it does for a writer that crashes.
``write_once_slowly`` races a plain-Python writer through
``io.write_once`` from a ``multiprocessing`` process.
"""

from __future__ import annotations

import contextlib
import os
import subprocess
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_HOLD = """
import sys
from mapreduce_google_spark.io import exclusive
with exclusive(sys.argv[1], None):
    for f in sys.argv[2:]:
        open(f, "w").close()
    print("held", flush=True)
    sys.stdin.read()
"""


def _hold(lock: str, files) -> subprocess.Popen:
    child = subprocess.Popen(
        [sys.executable, "-c", _HOLD, lock, *files],
        cwd=_REPO,
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        text=True,
    )
    if child.stdout.readline().strip() != "held":
        child.kill()
        child.wait()
        raise RuntimeError(f"lock holder for {lock} exited before taking it")
    return child


def _kill(child: subprocess.Popen) -> None:
    child.kill()
    child.wait()
    child.stdin.close()
    child.stdout.close()


@contextlib.contextmanager
def live_holder(lock: str):
    """A live process holds ``lock`` for the ``with`` body; it is
    SIGKILLed on exit."""
    child = _hold(lock, ())
    try:
        yield child.pid
    finally:
        _kill(child)


def killed_holder(lock: str, *files: str) -> None:
    """A process took ``lock``, created ``files`` and was SIGKILLed."""
    _kill(_hold(lock, files))


def write_once_slowly(path: str, log: str, start, out) -> None:
    """Wait at the ``start`` barrier, then put on ``out`` what
    ``io.write_once(path, ...)`` returns for a writer that appends its
    pid to ``log``, takes a second, then writes ``path/_SUCCESS``."""
    from mapreduce_google_spark.io import write_once

    def write(staged: str) -> None:
        with open(log, "a") as fh:
            fh.write(f"{os.getpid()}\n")
        time.sleep(1.0)
        os.makedirs(staged, exist_ok=True)
        open(os.path.join(staged, "_SUCCESS"), "w").close()

    start.wait()
    out.put(write_once(path, write))
