"""Where query ops stage scratch data, and when a staged fixture is reused.

Every staged path is ``ROOT/{tag}_{name}``, where ``tag`` is the scale
directory's basename (``sf0.01``), so fixtures of different scales sit
side by side; a fixture that does not depend on the scale passes
``sf_dir=None`` and is named ``ROOT/{name}``. Two policies:

- :func:`fresh` — per-call scratch: whatever the op's last call left at
  its path is removed on every call (txn-table ops, stream outputs);
- :func:`once` — build once, reuse forever: the fixture is built into a
  sibling path unique to the building process and thread, then renamed
  into place, so the final path exists only when the fixture is
  complete. A build that raises or is killed leaves no final path, and
  the next call builds again. The /tmp cache outlives the process on
  purpose (correctness runs and the benchmark's pre-stage pass share
  it); a fixture whose builder changes takes a new name, so stale
  fixtures from older code are never read.

:func:`staged_copy` combines the two for fixtures an op mutates: the
base is built ``once`` and each call works on a ``fresh`` copy of it.
"""

from __future__ import annotations

import os
import shutil
import threading
from typing import Callable

ROOT = "/tmp/spark_stage"


def tag(sf_dir: str) -> str:
    """The scale tag staged names carry: ``sf_dir``'s basename."""
    return os.path.basename(os.path.normpath(sf_dir))


def path(sf_dir: str | None, name: str) -> str:
    """The staged path of ``name`` at scale ``sf_dir`` (None: any scale)."""
    return os.path.join(ROOT, f"{tag(sf_dir)}_{name}" if sf_dir else name)


def _remove(p: str) -> None:
    if os.path.isdir(p):
        shutil.rmtree(p, ignore_errors=True)
    elif os.path.exists(p):
        os.remove(p)


def fresh(sf_dir: str | None, name: str) -> str:
    """Remove whatever the last call left at the staged path of
    ``name`` and return that path; its parent directory exists."""
    p = path(sf_dir, name)
    _remove(p)
    os.makedirs(ROOT, exist_ok=True)
    return p


def once(sf_dir: str | None, name: str, build: Callable[[str], object]) -> str:
    """Return the staged path of ``name``, calling ``build(tmp)`` to
    create the fixture at ``tmp`` first if it does not exist yet.

    ``tmp`` is a sibling unique to this process and thread, renamed
    onto the final path when ``build`` returns. A racer that renamed
    first wins; this caller's duplicate is discarded. A ``build`` that
    raises leaves nothing behind."""
    final = path(sf_dir, name)
    if os.path.exists(final):
        return final
    os.makedirs(ROOT, exist_ok=True)
    tmp = f"{final}.build-{os.getpid()}-{threading.get_ident()}"
    _remove(tmp)
    try:
        build(tmp)
        os.rename(tmp, final)
    except OSError:
        if not os.path.exists(final):
            raise
    finally:
        _remove(tmp)
    return final


def staged_copy(
    sf_dir: str, name: str, build: Callable[[str], object], work: str | None = None
) -> str:
    """Return a fresh working copy of the base fixture ``name``.

    The base (``{name}__base``) is built :func:`once` by ``build``; each
    call copies it to the :func:`fresh` directory ``work`` (default
    ``name``). Ops that share one base pass distinct ``work`` names so
    concurrent calls never clobber each other's live copy. TxnTable
    manifests reference data files by relative path, so a copied tree
    is a complete, writable table, and copying a few MB of files costs
    milliseconds where rebuilding the base costs a Spark job.
    """
    base = once(sf_dir, f"{name}__base", build)
    dst = fresh(sf_dir, work or name)
    shutil.copytree(base, dst)
    return dst
