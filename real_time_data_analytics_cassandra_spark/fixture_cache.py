"""On-disk fixture cache: derived tables built once per input, then
only read — the reference's write-time materialization, applied to the
indexes, bus dumps, snapshot tables and pair tables queries reuse.

Every fixture is one directory under ``$TMPDIR/rtdac_fixtures/``.
:func:`fixture_path` names it from the fixture's name, its format
version (an integer literal at the call site — bump it when the build
changes what it writes) and the identity (mtime + size) of every
input table the build reads, so a regenerated input or a new format
selects a fresh directory instead of feeding stale state to a query.

:func:`build_once` publishes atomically: the build writes a sibling
``<path>.stage-<uuid>`` directory, the one completion marker is added,
and the stage is renamed into place — a reader sees no fixture or a
complete one, never a half-written directory, and a failed build
publishes nothing.  Fixtures a query resumes or replays in place
(stream checkpoints, batch-stamped indexes) take only the path: their
own stamps make re-runs idempotent.

No Spark dependency, so tools that build fixtures without a session
share the same keys.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable, Iterable

ROOT = "rtdac_fixtures"
MARKER = "_complete"


def fixture_path(
    name: str, version: int, sf_dir: str, tables: Iterable[str]
) -> str:
    """The directory for fixture ``name`` at format ``version``, built
    from ``<sf_dir>/<table>.parquet`` for each of ``tables``.  Stats
    the inputs and creates nothing."""
    sf_dir = os.path.abspath(sf_dir)
    key = [sf_dir]
    for t in tables:
        st = os.stat(os.path.join(sf_dir, f"{t}.parquet"))
        key.append(f"{t}:{st.st_mtime_ns}:{st.st_size}")
    digest = hashlib.sha256("\0".join(key).encode()).hexdigest()[:16]
    return os.path.join(
        tempfile.gettempdir(),
        ROOT,
        f"{name}_v{version}_{os.path.basename(sf_dir)}_{digest}",
    )


def build_once(path: str, build: Callable[[str], object]) -> str:
    """Return ``path``; unless it already holds a complete fixture,
    first run ``build(stage)`` into a fresh sibling stage directory and
    publish the stage there.

    A rename that loses to a complete fixture (a concurrent builder
    won) keeps the winner; a marker-less directory squatting on the
    path (a crashed run, a foreign layout) is evicted and the stage
    promoted.  If ``build`` raises, the stage is removed and the
    exception propagates — nothing is published."""
    marker = os.path.join(path, MARKER)
    if os.path.exists(marker):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    stage = f"{path}.stage-{uuid.uuid4().hex}"
    try:
        build(stage)
        open(os.path.join(stage, MARKER), "w").close()
        try:
            os.rename(stage, path)
        except OSError:
            if not os.path.exists(marker):
                shutil.rmtree(path, ignore_errors=True)
                os.rename(stage, path)
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return path
