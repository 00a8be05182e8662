"""Table commits: the one module that knows how a whole table is replaced.

:func:`rewrite` is the entry point every whole-table rewriter calls
(MERGE, compaction, z-order, DELETE, the dedup and sketch compactions). It
keeps a table's layout: a manifest table, or a path with no table yet
(:func:`live_table`), commits the next generation through a pointer flip;
an existing plain parquet table is staged beside itself and swapped in
rename-aside
(:func:`swap_into_place`). Directory rename keeps a complete table visible
at every instant on a POSIX filesystem but is not atomic on object stores
(S3A renames are copy+delete per object), and the declared production
target is object storage (SCALE.md) — so new tables are manifest tables,
whose commit is replacing ONE small file (:func:`replace_file`).

Layout::

    table_root/
        _current        <- one line: the name of the live generation dir
        gen-000001/     <- a complete, immutable parquet table
        gen-000002/

Writers build the next generation in a fresh directory (never touching the
live one), then flip ``_current``. Readers resolve ``_current`` and scan
that generation. The flip is ``os.replace`` of a one-file manifest locally;
on an object store it maps to a single small PUT — the one atomic primitive
S3 does provide (strong read-after-write since 2020). Every failure mode is
benign:

- crash while writing the generation → ``_current`` still names the old
  complete generation; the orphan directory is garbage, collected by the
  next successful commit
- crash between generation write and pointer flip → same
- crash after the flip → commit is complete; the previous generation is
  retained for one commit so in-flight readers finish their scan

This is deliberately the skeleton of what Delta/Iceberg do (log/metadata
pointer → immutable data files); deploying a table format replaces this
module, not the query plans. Reference parity: the reference's dbt
``materialized='table'`` relies on the warehouse's transactional swap
(dbt-duckdb CREATE OR REPLACE); this supplies the equivalent guarantee over
plain parquet.
"""

from __future__ import annotations

import errno
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

CURRENT = "_current"
LOG = "_log"
_GEN_PREFIX = "gen-"


def replace_file(path: str, text: str) -> None:
    """Atomically replace the small file ``path`` with ``text``: write a
    sibling temp file, then ``os.replace`` it over ``path`` (a single
    small PUT on an object store)."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def is_manifest_table(path: str) -> bool:
    return os.path.isfile(os.path.join(path, CURRENT))


def current_generation(path: str) -> str | None:
    """Absolute path of the live generation, or None if ``path`` is not a
    manifest table (or the pointer names a missing directory — treated as
    corruption and raised, never silently read as empty)."""
    if not is_manifest_table(path):
        return None
    with open(os.path.join(path, CURRENT)) as f:
        gen = f.read().strip()
    gen_path = os.path.join(path, gen)
    if not gen or not os.path.isdir(gen_path):
        raise ValueError(
            f"manifest {path!r} points at missing generation {gen!r}"
        )
    return gen_path


def live_table(path: str) -> str | None:
    """The directory holding the live rows at ``path``: the live generation
    of a manifest table, ``path`` itself for a plain parquet table — or
    None when there is no table yet. A missing or empty path counts as
    new, and so does one holding only what a crashed first commit left
    (``gen-*`` dirs, ``_current.tmp``, ``_log``): the next commit GCs those."""
    cur = current_generation(path)
    if cur is not None:
        return cur
    if not os.path.exists(path):
        return None
    if os.path.isdir(path):
        names = os.listdir(path)
        if not names or any(
            n.startswith(_GEN_PREFIX) or n in (CURRENT + ".tmp", LOG) for n in names
        ):
            return None
    return path


def resolve_table(path: str) -> str:
    """The directory a reader should scan: :func:`live_table`, or the path
    itself when there is no table yet — so readers are layout-agnostic."""
    return live_table(path) or path


def read_table(
    spark: SparkSession, path: str, generation: int | None = None
) -> DataFrame:
    """Read the live table state, or — for manifest tables — a RETAINED
    older generation (``generation`` = its number, from :func:`history`):
    shallow time travel, bounded by ``keep_history`` exactly like a
    vacuumed Delta table. Asking for a GC'd or unknown generation raises
    rather than silently reading the wrong data."""
    if generation is None:
        return spark.read.parquet(resolve_table(path))
    gen = f"{_GEN_PREFIX}{generation:06d}"
    gen_path = os.path.join(path, gen)
    # only COMMITTED generations are readable: a directory left by a
    # crashed commit (never flipped to, not yet GC'd) may hold a partial
    # write — membership in the log (or being current) is the proof the
    # generation was complete when the pointer moved
    committed: set[str] = set()
    log_path = os.path.join(path, LOG)
    if os.path.isfile(log_path):
        with open(log_path) as f:
            committed = {line.strip() for line in f if line.strip()}
    cur = current_generation(path)
    if cur is not None:
        committed.add(os.path.basename(cur))
    if gen not in committed or not os.path.isdir(gen_path):
        retained = sorted(
            int(g[len(_GEN_PREFIX):])
            for g in _generations(path)
            if g in committed
        )
        raise ValueError(
            f"generation {generation} of {path!r} is unknown, uncommitted, "
            f"or already GC'd (readable: {retained})"
        )
    return spark.read.parquet(gen_path)


def history(path: str) -> list[dict]:
    """Commit history of a manifest table, newest first: one entry per
    commit still recorded in the log, flagged ``retained`` if its data
    directory survives GC (only retained generations are readable)."""
    log_path = os.path.join(path, LOG)
    if not os.path.isfile(log_path):
        return []
    with open(log_path) as f:
        committed = [line.strip() for line in f if line.strip()]
    on_disk = set(_generations(path))
    return [
        {"generation": int(g[len(_GEN_PREFIX):]), "retained": g in on_disk}
        for g in reversed(committed)
    ]


def _generations(path: str) -> list[str]:
    if not os.path.isdir(path):
        return []
    return sorted(
        d
        for d in os.listdir(path)
        if d.startswith(_GEN_PREFIX) and os.path.isdir(os.path.join(path, d))
    )


def commit_generation(
    path: str,
    write_fn: Callable[[str], None],
    keep_history: int = 1,
) -> str:
    """Commit a new table state: ``write_fn(gen_dir)`` writes the complete
    next generation into a fresh directory, then the ``_current`` pointer
    flips to it in one small-file replace. Returns the committed
    generation path.

    Retains the ``keep_history`` most recent previously-committed
    generations (readers may be mid-scan on the last one; older retained
    ones are readable via ``read_table(path, generation=...)`` — shallow
    time travel) and deletes everything else, including orphans from
    crashed commits — GC runs AFTER the flip, so a crash during GC leaves
    only extra data, never less. ``keep_history=0`` keeps only the new
    generation.

    Single-writer protocol (like the rename swap it replaces): concurrent
    committers could allocate the same generation number. Serialize
    commits per table — the scheduler/stream sink already does — or add a
    lock service; readers need no coordination in either case.
    """
    os.makedirs(path, exist_ok=True)
    gens = _generations(path)
    prev = current_generation(path)  # readers may be mid-scan on it
    n = int(gens[-1][len(_GEN_PREFIX):]) + 1 if gens else 1
    gen = f"{_GEN_PREFIX}{n:06d}"
    gen_path = os.path.join(path, gen)
    write_fn(gen_path)

    replace_file(os.path.join(path, CURRENT), gen + "\n")  # THE commit
    # commit log (after the flip — a crash before this line only loses the
    # HISTORY entry, never the commit): the log records generations that
    # actually WERE current, so orphans from crashed commits never gain a
    # history row and are always GC'd below. If the PREVIOUS current gen
    # is missing from the log (crash in exactly this window last commit),
    # heal it first so it keeps its history row and GC protection.
    log_path = os.path.join(path, LOG)
    logged: list[str] = []
    if os.path.isfile(log_path):
        with open(log_path) as f:
            logged = [line.strip() for line in f if line.strip()]
    with open(log_path, "a") as f:
        if prev is not None and os.path.basename(prev) not in logged:
            f.write(os.path.basename(prev) + "\n")
        f.write(gen + "\n")

    # post-commit GC: keep the new gen plus the keep_history most recent
    # COMMITTED predecessors (readers may be mid-scan on the last; older
    # retained ones serve time travel); everything else — including
    # never-pointed-to orphans — is garbage. GC after the flip: a crash
    # here leaves extra data, never less.
    with open(log_path) as f:
        committed = [line.strip() for line in f if line.strip()]
    survivors = {gen} | set(committed[-(keep_history + 1):])
    if prev is not None:  # never GC the gen in-flight readers resolved
        survivors.add(os.path.basename(prev))
    for d in _generations(path):
        if d not in survivors:
            shutil.rmtree(os.path.join(path, d), ignore_errors=True)
    return gen_path


def swap_into_place(staging: str, path: str) -> None:
    """Swap a fully-written staging directory over the live target: rename
    the live target ASIDE first, then staging into place, then delete the
    old copy — a complete table exists at every instant, so a crash
    mid-swap (or a concurrent reader) never sees a missing target.
    os.rename fails across filesystems (EXDEV) — fall back to copy+delete."""
    target = path.rstrip("/")
    old = target + ".__old__"
    if os.path.isdir(old):  # leftover from a crashed previous swap
        shutil.rmtree(old)
    if os.path.isdir(target):
        os.rename(target, old)
    try:
        os.rename(staging, target)
    except OSError as e:
        if e.errno != errno.EXDEV:
            # put the live table back before propagating
            if os.path.isdir(old) and not os.path.isdir(target):
                os.rename(old, target)
            raise
        shutil.copytree(staging, target)
        shutil.rmtree(staging)
    if os.path.isdir(old):
        shutil.rmtree(old)


def rewrite(path: str, write_fn: Callable[[str], None]) -> str:
    """Replace the whole table at ``path`` with what ``write_fn(out)``
    writes into the fresh directory ``out``; return the directory now live.

    The layout is kept: a manifest table, or a path with no table yet
    (:func:`live_table` is None), commits a generation
    (:func:`commit_generation`); an existing plain table is written to
    ``path + ".__staging__"`` and swapped in (:func:`swap_into_place`).
    Either way ``write_fn`` may read the live table — nothing replaces it
    until the write is complete."""
    if is_manifest_table(path) or live_table(path) is None:
        return commit_generation(path, write_fn)
    target = path.rstrip("/")
    staging = target + ".__staging__"
    shutil.rmtree(staging, ignore_errors=True)  # a crashed rewrite's leftover
    write_fn(staging)
    swap_into_place(staging, target)
    return target


def vacuum(path: str, keep_history: int = 1) -> dict:
    """Standalone generation GC (Delta VACUUM parity): delete retained
    generations beyond the ``keep_history`` most recent committed
    predecessors — and any never-committed orphans from crashed writers —
    WITHOUT making a commit. Commit-time GC already enforces the same
    policy; vacuum is for tightening retention after the fact (e.g.
    ``keep_history=0`` following a ``delete_where`` erasure, so the
    pre-delete audit generation stops existing). The live generation is
    never removed; the ``_log`` history is kept (``history()`` flags
    vacuumed entries as ``retained: False``). Returns
    ``{"removed": [...], "retained": [...]}`` generation names.
    """
    if not is_manifest_table(path):
        raise ValueError(f"{path!r} is not a manifest table (no {CURRENT} file)")
    cur = os.path.basename(current_generation(path))
    committed: list[str] = []
    log_path = os.path.join(path, LOG)
    if os.path.isfile(log_path):
        with open(log_path) as f:
            committed = [line.strip() for line in f if line.strip()]
    if cur not in committed:  # heal the crash-between-flip-and-log window
        committed.append(cur)
    survivors = {cur} | set(committed[-(keep_history + 1):])
    removed, retained = [], []
    for d in _generations(path):
        if d in survivors:
            retained.append(d)
        else:
            removed.append(d)
            shutil.rmtree(os.path.join(path, d), ignore_errors=True)
    return {"removed": removed, "retained": retained}
