"""Snapshot-versioned parquet tables: time travel, merge-on-read deletes,
rollback, snapshot expiry, statistics-based scan planning, and rewrite
commits — Iceberg's transactional core emulated on plain parquet + an
atomic pointer file.

[EXT over the sandbox constraint] The reference's sink is an Iceberg table
(reference: services/streaming-service/spark_config.py:50-53 — catalog
config; services/api-service/data_service.py:120-125 — snapshot-refreshed
reads), but no Iceberg jars exist in this environment (ROUND_NOTES fact 9).
This module supplies the SEMANTICS a user of that sink relies on, with the
same commit discipline Iceberg uses:

- **Data files are immutable and append-only** (content-addressed under
  ``data/``); a snapshot is a MANIFEST (parquet list of file paths + kinds
  + per-file metadata) plus the ``_CURRENT`` pointer naming it.
- **Metadata lives on the driver, data on Spark.** Manifests are written
  and read with pyarrow, and every commit records the snapshot's read
  schema (``_schema.json``) beside its ``_commit.json`` — the first
  commit's frame schema, carried forward from the parent when an appended
  frame matches it, inferred once with ``mergeSchema`` when the schema
  changes. A commit therefore runs one Spark job, the data write, and
  planning a read of a delete-free snapshot runs none (Iceberg plans
  from its metadata files the same way). Snapshots committed without a
  recorded schema (older tables) infer it at read time.
- **Commit = claim the snapshot id, write everything, then atomically swap
  the pointer** (``os.replace`` — atomic on POSIX). A crash before the
  swap leaves only unreferenced files; readers never observe a partial
  snapshot. Concurrent writers are detected, not silently lost: the claim
  is an ``O_CREAT|O_EXCL`` file per snapshot id, so two writers that both
  read current=N race the *claim*, the loser gets
  :class:`CommitConflictError`, and every public writer retries
  optimistically against the NEW current (Iceberg's optimistic-concurrency
  loop). A claim older than ``_STALE_CLAIM_SECONDS`` whose pointer never
  advanced is a crashed writer; the next claimant steals it. (A real
  Iceberg catalog gets this from one atomic CAS primitive; the steal path
  here assumes crash recovery is not itself concurrent — the honest limit
  of a filesystem emulation.)
- **Deletes are merge-on-read**: a delete writes a key file, not a rewrite
  — reads anti-join the accumulated delete keys (Iceberg's equality
  deletes). The delete file's KEY COLUMN is recorded in the manifest, so
  scan planning never has to open delete files to sniff schemas. Old
  snapshots still see the rows: time travel is free because nothing is
  ever mutated.
- **Scan planning prunes files from the manifest**: when the table
  declares ``stats_cols`` (table property, set at create), every committed
  data file records per-column [min, max] bounds in its manifest row, and
  ``read_table(..., prune={col: (lo, hi)})`` drops files whose bounds
  cannot intersect the predicate BEFORE the parquet reader ever sees their
  paths — Iceberg's manifest-level file pruning, the piece that keeps scan
  planning O(matching files) instead of O(all files) at 100 TB. Parquet
  footer/row-group pruning still applies within the surviving files.
- **Rollback** is a pointer swap; **expire_snapshots** drops manifests
  older than the retention and vacuums files no retained manifest
  references (Iceberg's expire_snapshots + remove_orphan_files, including
  its ``older_than`` grace period so an in-flight writer's uncommitted
  files are not swept mid-commit).
- **rewrite_table_layout** is Iceberg's rewrite_data_files: a Z-order or
  range re-clustering of the current view committed as a snapshot through
  the replace path — atomic, rollback-able, history preserved.
- **Branches and tags** are named refs (one file per ref under ``refs/``;
  ``main`` stays the ``_CURRENT`` pointer): writers take ``branch=`` and
  advance only that ref, readers take ``ref=``, tags are immutable
  retention anchors, and ``fast_forward`` publishes a staged branch onto
  main after validating ancestry — Iceberg's write-audit-publish. With
  branches, snapshot ids are allocated table-globally (per-id O_EXCL
  claims on top of the per-(branch, parent) commit claim), and every
  commit records its parent in a ``_commit.json`` beside the manifest,
  the chain fast-forward walks.

Scale shape: manifests hold file PATHS + KB-scale metadata per snapshot,
never data; a read plans ``spark.read.parquet(*files)`` over the pruned
file set so pushdown/pruning work as on any parquet scan; the delete
anti-join is keyed by the recorded key column and bounded by accumulated
deletes (compaction folds them away — rewrite to a fresh snapshot via
``append_snapshot(read_table(...), replace=True)``).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    MapType,
    StructField,
    StructType,
)

from demo_bigdata_spark.session import local_frame

_POINTER = "_CURRENT"
_PROPS = "_PROPERTIES"
# inside snapshots/<id>/: the manifest file and the recorded read schema
# (the "_" prefix keeps the schema out of parquet directory reads)
_MANIFEST = "manifest.parquet"
_SCHEMA = "_schema.json"
# a commit claim this old whose pointer never advanced is a crashed
# writer; the next claimant steals it (Iceberg: lock expiry on the catalog)
_STALE_CLAIM_SECONDS = 60.0
_COMMIT_ATTEMPTS = 8
# exponential-backoff envelope for the optimistic commit loop: a live
# winner holds its claim only while it writes the manifest, but a loser's
# retry rebuilds its entries (and may re-infer the schema) against the new
# head, so the retry window must comfortably exceed a typical commit —
# 0.05 * 2^i capped at 2 s sums to ~10 s across 8 attempts, vs the ~0.1 s a
# fixed 20 ms sleep allowed (which surfaced CommitConflictError for routine
# transient contention). Jitter decorrelates herds of retrying writers.
_BACKOFF_BASE_SECONDS = 0.05
_BACKOFF_CAP_SECONDS = 2.0


class CommitConflictError(RuntimeError):
    """Another writer committed (or is committing) the snapshot id this
    writer computed. Public writers catch it and retry against the new
    current snapshot; surfacing it means the optimistic retries ran out."""


def _snap_dir(path: str) -> str:
    return os.path.join(path, "snapshots")


def _manifest_path(path: str, snap: int) -> str:
    return os.path.join(_snap_dir(path), f"{snap:08d}")


def _claim_path(path: str, snap: int, branch: str = "main") -> str:
    """Per-(branch, parent) commit claim: ``snap`` is the SLOT (parent+1),
    so two writers that built on the same branch head race this file. The
    main branch keeps the historical name (no ``-main-`` infix) so
    existing tables and tests are untouched."""
    if branch == "main":
        return os.path.join(_snap_dir(path), f".claim-{snap:08d}")
    return os.path.join(_snap_dir(path), f".claim-{branch}-{snap:08d}")


def _idclaim_path(path: str, snap: int) -> str:
    return os.path.join(_snap_dir(path), f".idclaim-{snap:08d}")


def _refs_dir(path: str) -> str:
    return os.path.join(path, "refs")


def _ref_path(path: str, kind: str, name: str) -> str:
    # Names matching the in-flight temp-file pattern are rejected so a
    # legal ref can never collide with what list_refs/_live_heads filter
    # out (".tmp-" anywhere, or a trailing ".tmp") — such a branch would
    # be created successfully yet invisible to retention, letting
    # expire_snapshots drop its head. Only the actual filtered pattern is
    # rejected (round-10 ADVICE): "v1.tmp2" stays legal. Migration
    # caveat: a ref like "v1.tmp-x" created before round 9 was already
    # invisible to retention; it stays unaddressable here by design.
    if (
        not name
        or ".tmp-" in name
        or name.endswith(".tmp")
        or not all(c.isalnum() or c in "_-." for c in name)
    ):
        raise ValueError(f"invalid ref name {name!r}")
    return os.path.join(_refs_dir(path), f"{kind}-{name}")


def current_snapshot(path: str) -> int | None:
    """The committed snapshot id, or None for an empty/uninitialized table."""
    try:
        with open(os.path.join(path, _POINTER)) as f:
            return int(f.read().strip())
    except FileNotFoundError:
        return None


def _ref_head(path: str, branch: str) -> int | None:
    """The branch's committed head snapshot id. ``main`` is the
    ``_CURRENT`` pointer; every other branch is one file under ``refs/``
    (one file PER ref, so concurrent updates to different refs never
    rewrite each other — the reason this is not a single refs.json)."""
    if branch == "main":
        return current_snapshot(path)
    try:
        with open(_ref_path(path, "branch", branch)) as f:
            return int(f.read().strip())
    except FileNotFoundError:
        return None


def _advance_ref(path: str, branch: str, snap: int) -> None:
    if branch == "main":
        _swap_pointer(path, snap)
        return
    ref = _ref_path(path, "branch", branch)
    if not os.path.exists(ref):
        raise ValueError(f"no branch {branch!r} at {path}")
    tmp = ref + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(str(snap))
    os.replace(tmp, ref)


def list_refs(path: str) -> dict:
    """All named refs: ``{"branch": {name: head}, "tag": {name: snap}}``.
    ``main`` (the pointer) is included as a branch when the table exists."""
    out: dict = {"branch": {}, "tag": {}}
    cur = current_snapshot(path)
    if cur is not None:
        out["branch"]["main"] = cur
    d = _refs_dir(path)
    if os.path.isdir(d):
        for f in sorted(os.listdir(d)):
            if f.endswith(".tmp") or ".tmp-" in f:
                continue
            kind, _, name = f.partition("-")
            if kind in ("branch", "tag") and name:
                with open(os.path.join(d, f)) as fh:
                    out[kind][name] = int(fh.read().strip())
    return out


def _resolve_ref(path: str, ref: str) -> int:
    if ref == "main":
        cur = current_snapshot(path)
        if cur is None:
            raise ValueError(f"no versioned table at {path}")
        return cur
    for kind in ("branch", "tag"):
        try:
            with open(_ref_path(path, kind, ref)) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            continue
    raise ValueError(f"no branch or tag {ref!r} at {path}")


def create_branch(path: str, name: str, at_snapshot: int | None = None) -> int:
    """Create a branch pointing at ``at_snapshot`` (default: main head).
    Branches receive commits via the writers' ``branch=`` parameter and
    advance independently of main — Iceberg's branch refs, the basis of
    the write-audit-publish pattern. Creation is O_EXCL: racing creators
    of the same name lose loudly, never silently re-point."""
    snap = current_snapshot(path) if at_snapshot is None else int(at_snapshot)
    if snap is None:
        raise ValueError(f"no versioned table at {path}")
    if name == "main":
        raise ValueError("'main' is the table pointer, not a creatable branch")
    if not os.path.exists(_manifest_path(path, snap)):
        raise ValueError(f"snapshot {snap} does not exist at {path}")
    os.makedirs(_refs_dir(path), exist_ok=True)
    ref = _ref_path(path, "branch", name)
    fd = os.open(ref, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    with os.fdopen(fd, "w") as f:
        f.write(str(snap))
    return snap


def create_tag(path: str, name: str, at_snapshot: int | None = None) -> int:
    """Create an immutable tag naming a snapshot (Iceberg tags): a
    retention anchor and a stable name for time travel —
    ``read_table(..., ref="v1")``. No API ever advances a tag."""
    snap = current_snapshot(path) if at_snapshot is None else int(at_snapshot)
    if snap is None:
        raise ValueError(f"no versioned table at {path}")
    if not os.path.exists(_manifest_path(path, snap)):
        raise ValueError(f"snapshot {snap} does not exist at {path}")
    os.makedirs(_refs_dir(path), exist_ok=True)
    ref = _ref_path(path, "tag", name)
    fd = os.open(ref, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    with os.fdopen(fd, "w") as f:
        f.write(str(snap))
    return snap


def drop_ref(path: str, name: str) -> None:
    """Delete a branch or tag. The snapshots it pointed at stay readable
    by id until expired (expire keeps only LIVE ref heads)."""
    if name == "main":
        raise ValueError("cannot drop the main pointer")
    for kind in ("branch", "tag"):
        p = _ref_path(path, kind, name)
        if os.path.exists(p):
            os.remove(p)
            return
    raise ValueError(f"no branch or tag {name!r} at {path}")


def table_properties(path: str) -> dict:
    """Table-level properties (currently ``stats_cols``), set at create."""
    try:
        with open(os.path.join(path, _PROPS)) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def _stats_cols(path: str) -> list[str]:
    return list(table_properties(path).get("stats_cols") or [])


def _bloom_spec(path: str) -> tuple[list[str], int]:
    p = table_properties(path)
    return list(p.get("bloom_cols") or []), int(p.get("bloom_bytes") or 2048)


_BLOOM_K = 4


def _bloom_key(value) -> str | None:
    """Canonical string for bloom hashing, identical at write (pyarrow
    values) and probe (caller values) time. Numeric types unify — a
    DOUBLE column's 1.0 and an int probe 1 must hash alike (the bounds
    path compares numerically; the bloom must not silently prune what it
    would match). Integer magnitudes >= 2^53 fail OPEN (None) for BOTH
    int and float: past the double-exact range an int probe against a
    double column (or vice versa) would canonicalize differently and the
    bloom would "prove" absence of rows the row-level numeric comparison
    matches (round-10 ADVICE). None at build time is sound precisely
    because every numerically-equal probe representation also keys to
    None and falls open. Same contract for the non-UTF8 bytes _plain
    fails open on."""
    p = _plain(value)
    if p is None:
        return None
    if isinstance(p, bool):
        p = int(p)
    elif isinstance(p, float) and p.is_integer():
        if abs(p) >= 2**53:
            return None
        p = int(p)
    elif isinstance(p, int) and abs(p) >= 2**53:
        return None
    return str(p)


def _bloom_hashes(key: str, m_bits: int) -> list[int]:
    """k deterministic bit indices: md5 of the canonical key, 4-byte
    slices mod m."""
    import hashlib

    d = hashlib.md5(key.encode("utf-8")).digest()
    return [
        int.from_bytes(d[i * 4 : (i + 1) * 4], "big") % m_bits
        for i in range(_BLOOM_K)
    ]


def _bloom_build(file: str, cols: list[str], nbytes: int) -> dict[str, str]:
    """Per-column Bloom filters over a part file's distinct values, read
    with a column-projected pyarrow scan. Honest cost note: unlike the
    footer [min,max] harvest this DOES re-read the bloom columns of each
    just-written file (O(new files' bloom-column bytes), driver-side in
    this single-node emulation) — the price of an absence-proving
    structure footers don't carry; a cluster deployment computes blooms
    inside the writer tasks (parquet's own bloom_filter_enabled) and the
    manifest only points at them. Declare bloom_cols only on point-lookup
    key columns. Base64-encoded into the manifest meta JSON. Any failure
    means no bloom for that column — observable fail-open, like null
    bounds."""
    import base64

    import pyarrow.parquet as pq

    out: dict[str, str] = {}
    m_bits = nbytes * 8
    try:
        # Intersect with the file's own schema BEFORE the projected read:
        # after schema evolution older files lack newly-declared bloom
        # columns, and a read_table over the full declared list would
        # raise — dropping blooms for ALL columns of that file, including
        # present ones (round-10 ADVICE). Missing columns fail open
        # individually; present columns keep their filters.
        present = set(pq.read_schema(file).names)
        t = pq.read_table(file, columns=[c for c in cols if c and c in present])
    except Exception:
        return out
    for c in cols:
        if c not in t.schema.names:
            continue
        try:
            bits = bytearray(nbytes)
            for v in set(t.column(c).to_pylist()):
                k = None if v is None else _bloom_key(v)
                if k is None:
                    continue
                for h in _bloom_hashes(k, m_bits):
                    bits[h >> 3] |= 1 << (h & 7)
            out[c] = base64.b64encode(bytes(bits)).decode("ascii")
        except Exception:
            continue
    return out


def _bloom_may_contain(meta_obj: dict, col: str, value) -> bool:
    """Probe a manifest-recorded bloom: False proves the value is absent
    from the file; a missing/corrupt bloom fails open."""
    import base64

    blooms = meta_obj.get("blooms") or {}
    b64 = blooms.get(col)
    if not b64:
        return True
    try:
        key = _bloom_key(value)
        if key is None:
            return True
        bits = base64.b64decode(b64)
        m_bits = len(bits) * 8
        if m_bits == 0:
            return True
        return all(
            bits[h >> 3] & (1 << (h & 7)) for h in _bloom_hashes(key, m_bits)
        )
    except Exception:
        return True


def _swap_pointer(path: str, snap: int) -> None:
    """Atomic commit: write the new pointer beside, then os.replace —
    readers see either the old snapshot or the new one, never a torn
    state."""
    tmp = os.path.join(path, _POINTER + f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        f.write(str(snap))
    os.replace(tmp, os.path.join(path, _POINTER))


def _acquire_claim(path: str, snap: int, branch: str = "main") -> str:
    """Claim the right to commit slot ``snap`` (= parent head + 1) on
    ``branch`` via O_CREAT|O_EXCL — the CAS that keeps two live writers
    who built on the same branch head from silently losing an update.
    Raises :class:`CommitConflictError` when the branch already advanced
    past the parent or a live writer holds the claim; steals claims older
    than ``_STALE_CLAIM_SECONDS`` whose branch head never advanced
    (crashed writer)."""
    os.makedirs(_snap_dir(path), exist_ok=True)
    claim = _claim_path(path, snap, branch)

    def _already_committed() -> bool:
        cur = _ref_head(path, branch)
        return cur is not None and cur >= snap

    if _already_committed():
        raise CommitConflictError(
            f"snapshot {snap} already committed at {path}; retry from current"
        )
    try:
        os.close(os.open(claim, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
    except FileExistsError:
        if _already_committed():
            raise CommitConflictError(
                f"snapshot {snap} already committed at {path}; retry from "
                "current"
            )
        try:
            age = time.time() - os.path.getmtime(claim)
        except FileNotFoundError:
            raise CommitConflictError(
                f"claim for snapshot {snap} released mid-check at {path}; retry"
            )
        if age < _STALE_CLAIM_SECONDS:
            raise CommitConflictError(
                f"another writer holds the commit claim for snapshot {snap} "
                f"at {path}"
            )
        os.utime(claim)  # crashed writer: take over its claim
    # re-check AFTER acquiring: the winner removes its claim only after its
    # pointer swap, so a successful create that races a finished commit is
    # caught here instead of silently overwriting the committed manifest
    if _already_committed():
        try:
            os.remove(claim)
        except FileNotFoundError:
            pass
        raise CommitConflictError(
            f"snapshot {snap} committed concurrently at {path}; retry from "
            "current"
        )
    return claim


def _max_snapshot_id(path: str) -> int:
    """Highest allocated snapshot id across ALL branches: manifests on
    disk plus every ref head (a head whose manifest write is mid-flight
    still counts via the idclaim loop)."""
    ids = [0]
    sd = _snap_dir(path)
    if os.path.isdir(sd):
        ids += [int(d) for d in os.listdir(sd) if d.isdigit()]
    refs = list_refs(path)
    ids += list(refs["branch"].values()) + list(refs["tag"].values())
    return max(ids)


def _acquire_id(path: str, floor: int) -> tuple[int, str]:
    """Allocate a globally-unique manifest id >= ``floor`` via O_EXCL id
    claims. Snapshot ids are global across branches (Iceberg: snapshot
    ids are table-global; refs are just named pointers), so two branches
    committing concurrently must not pick the same manifest directory —
    the per-branch parent claim cannot prevent that, this CAS does. On a
    main-only table the loop returns ``floor`` (== parent+1) untouched,
    preserving the historical id sequence exactly. Stale id claims from
    crashed writers are stolen when no live ref names the id."""
    n = max(floor, _max_snapshot_id(path) + 1) if os.path.isdir(
        _refs_dir(path)
    ) else floor
    for _ in range(100_000):
        idclaim = _idclaim_path(path, n)
        try:
            os.close(os.open(idclaim, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
            return n, idclaim
        except FileExistsError:
            try:
                age = time.time() - os.path.getmtime(idclaim)
            except FileNotFoundError:
                continue  # released mid-check: same id is free now
            refs = list_refs(path)
            live = set(refs["branch"].values()) | set(refs["tag"].values())
            if age >= _STALE_CLAIM_SECONDS and n not in live:
                os.utime(idclaim)  # crashed writer: take over
                return n, idclaim
            n += 1
    raise CommitConflictError(f"could not allocate a snapshot id at {path}")


def _write_manifest(
    path: str, snap: int, entries: list[tuple[str, str, int, str | None]]
) -> str:
    """Write ``entries`` as snapshot ``snap``'s manifest with pyarrow into
    a CLEARED ``snapshots/<snap>/`` directory: a temp file, then
    ``os.replace``. Returns the directory."""
    import pyarrow as pa

    schema = pa.schema(
        [
            ("file", pa.string()),
            ("kind", pa.string()),
            ("epoch_id", pa.int64()),
            ("seq", pa.int32()),
            ("meta", pa.string()),
        ]
    )
    rows = [
        {"file": f, "kind": k, "epoch_id": e, "seq": i, "meta": m}
        for i, (f, k, e, m) in enumerate(entries)
    ]
    d = _manifest_path(path, snap)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    write_parquet_atomic(
        pa.Table.from_pylist(rows, schema=schema), os.path.join(d, _MANIFEST)
    )
    return d


def write_parquet_atomic(table, dest: str) -> None:
    """Write the pyarrow ``table`` as the one parquet file ``dest``: a
    dot-prefixed temp file beside it (skipped by parquet directory reads),
    then ``os.replace``, so a reader sees the old file or the new one and
    a crash leaves at most an ignored temp file."""
    import pyarrow.parquet as pq

    d, name = os.path.split(dest)
    tmp = os.path.join(d, f".{name}.tmp-{uuid.uuid4().hex}")
    pq.write_table(table, tmp)
    os.replace(tmp, dest)


def _commit(
    path: str,
    snap: int,
    entries: list[tuple[str, str, int, str | None]],
    branch: str = "main",
    schema: StructType | None = None,
) -> int:
    """Claim the snapshot id, write the manifest, atomically swap the
    pointer, release the claim. Every manifest row carries:

    - ``epoch_id`` (-1 for batch commits) so streaming idempotence checks
      and batch operations share ONE schema — a batch delete on a
      stream-written table must not strip the epoch column the next
      micro-batch's applied-check reads.
    - ``seq`` — position in the commit order — because parquet reads do
      not preserve row order and the delete-application rule (a delete
      file applies only to data files with a SMALLER seq) depends on it.
    - ``meta`` — JSON per-file metadata: column [min, max] bounds for data
      files (when the table declares stats_cols), the key column for
      delete files. Scan planning reads it from the manifest instead of
      opening files.

    The manifest is driver-side metadata, written with pyarrow (no Spark
    job). Its directory is cleared first: a crash between manifest write
    and pointer swap (or a rollback to an earlier snapshot) leaves a
    stale, unreferenced manifest at the target id — the redo must replace
    it, not sit beside it. Live-writer overwrites are excluded by the
    claim, not by the clearing.

    ``snap`` is the commit SLOT (parent head + 1) — the per-branch claim
    key. The MANIFEST id actually written may be larger when other
    branches allocated ids in between (``_acquire_id``); on a main-only
    table it is always ``snap`` itself. Returns the manifest id. A
    ``_commit.json`` beside the manifest (ignored by parquet readers —
    ``_``-prefixed) records branch + parent: the ancestry chain
    ``fast_forward`` walks. ``schema``, when given, is recorded beside it
    as the snapshot's read schema (see :func:`_snapshot_schema`)."""
    claim = _acquire_claim(path, snap, branch)
    try:
        nid, idclaim = _acquire_id(path, snap)
    except CommitConflictError:
        try:
            os.remove(claim)
        except FileNotFoundError:
            pass
        raise
    d = _write_manifest(path, nid, entries)
    with open(os.path.join(d, "_commit.json"), "w") as f:
        json.dump(
            {"branch": branch, "parent": snap - 1, "committed_at": time.time()},
            f,
        )
    if schema is not None:
        with open(os.path.join(d, _SCHEMA), "w") as f:
            f.write(schema.json())
    _advance_ref(path, branch, nid)
    for c in (idclaim, claim):
        try:
            os.remove(c)
        except FileNotFoundError:
            pass
    return nid


def _retrying_commit(
    spark,
    path: str,
    build,
    branch: str = "main",
    frame_schema: StructType | None = None,
) -> int:
    """Optimistic-concurrency loop (Iceberg's commit retry): re-read the
    branch head, rebuild the manifest entries against it, attempt the
    claimed commit; on conflict, loop. ``build(cur) -> entries`` must be
    cheap to re-run — data files are written ONCE before the loop (they
    are immutable and id-free, so they attach to whichever snapshot id the
    winning attempt gets). ``frame_schema`` is the schema of the frame the
    commit's new data files were written from, None when it adds none.
    Returns the committed manifest id."""
    import random

    last: Exception | None = None
    for attempt in range(_COMMIT_ATTEMPTS):
        cur = _ref_head(path, branch)
        if cur is None:
            raise ValueError(f"no versioned table or branch {branch!r} at {path}")
        try:
            entries = build(cur)
            schema = _snapshot_schema(spark, path, cur, entries, frame_schema)
            return _commit(path, cur + 1, entries, branch=branch, schema=schema)
        except CommitConflictError as e:
            last = e
            delay = min(
                _BACKOFF_CAP_SECONDS, _BACKOFF_BASE_SECONDS * (2**attempt)
            )
            time.sleep(delay * random.uniform(0.5, 1.0))
    raise last  # type: ignore[misc]


def _write_files(df: DataFrame, path: str, kind: str) -> list[str]:
    """Write a frame as immutable content-addressed parquet files under
    ``path/<kind>/<uuid>/`` and return the individual PART FILES — one
    manifest entry per part file (Iceberg records per-data-file entries),
    so statistics and pruning work at file granularity even inside one
    large commit. Legacy manifests that recorded the directory stay
    readable (parquet scans accept either; expire/CDC expand both)."""
    import pyarrow.parquet as pq

    d = os.path.join(path, kind, uuid.uuid4().hex)
    df.write.mode("error").parquet(d)
    files = sorted(
        os.path.join(d, f)
        for f in os.listdir(d)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )
    # empty part files (written for empty partitions) carry no rows and
    # would sit in every future scan plan as permanent fail-open entries;
    # drop them from the manifest. An all-empty commit keeps ONE file as
    # the schema carrier so the snapshot still reads as an empty frame.
    nonempty = [f for f in files if pq.ParquetFile(f).metadata.num_rows > 0]
    return nonempty or files[:1]


def _plain(v):
    """JSON-safe, order-preserving encoding for manifest bounds: dates and
    timestamps become ISO strings (lexicographic == chronological),
    numbers stay numbers."""
    import datetime
    import decimal

    if isinstance(v, datetime.datetime):
        # footer statistics come back tz-aware (isAdjustedToUTC=true);
        # Spark's collected values are naive UTC under the session TZ —
        # normalize so footer-harvested bounds compare like Spark values
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, bytes):
        # Strict decode or no bounds at all: errors="replace" would
        # collapse invalid sequences to U+FFFD, which does NOT preserve
        # byte order, so a recorded min could sit above the true bound
        # and _may_contain would prune a file that holds matching rows.
        # Non-UTF8 binary bounds fail OPEN (None => never prune on them),
        # the same observable posture as the stats_error path.
        try:
            return v.decode("utf-8", errors="strict")
        except UnicodeDecodeError:
            return None
    return v


def _footer_meta(
    file: str,
    cols: list[str],
    bloom_cols: list[str] | None = None,
    bloom_bytes: int = 2048,
) -> str | None:
    """Per-part-file [min, max] bounds for the declared stats columns,
    harvested from the parquet FOOTER (pyarrow metadata, KB-scale read) —
    the just-written data is never re-scanned, so recording statistics
    costs O(files) footer reads per commit instead of a second Spark job
    over the commit's data (the round-7 stats tax, fixed).

    Fail-open is explicit and observable: a column whose statistics are
    absent in any row group (e.g. INT96 timestamps from a foreign writer,
    oversized binary values parquet-mr dropped) records ``[null, null]``
    bounds, and an unreadable footer records null bounds for every
    declared column plus a ``stats_error`` marker — ``table_files`` shows
    exactly which files :func:`_may_contain` must always read. Footer
    min/max may be parquet-mr-truncated prefixes; truncation widens the
    interval (min rounds down, max rounds up), so pruning on them stays
    conservative."""
    if not cols and not bloom_cols:
        return None
    if not cols:
        blooms = _bloom_build(file, bloom_cols or [], bloom_bytes)
        return json.dumps({"bounds": {}, "blooms": blooms}) if blooms else None
    import pyarrow.parquet as pq

    try:
        md = pq.ParquetFile(file).metadata
        idx = {}
        for i in range(md.num_columns):
            p = md.schema.column(i).path
            if p in cols:
                idx[p] = i
        if not idx:
            return None
        bounds = {}
        for c, i in idx.items():
            lo = hi = None
            ok = md.num_row_groups > 0
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(i).statistics
                if st is None or not st.has_min_max:
                    ok = False
                    break
                mn, mx = st.min, st.max
                lo = mn if lo is None or mn < lo else lo
                hi = mx if hi is None or mx > hi else hi
            bounds[c] = [_plain(lo), _plain(hi)] if ok else [None, None]
        meta = {"bounds": bounds}
        if bloom_cols:
            blooms = _bloom_build(file, bloom_cols, bloom_bytes)
            if blooms:
                meta["blooms"] = blooms
        return json.dumps(meta)
    except Exception as e:  # corrupted/unreadable footer: observable fail-open
        return json.dumps(
            {
                "bounds": {c: [None, None] for c in cols},
                "stats_error": type(e).__name__,
            }
        )


def _may_contain(meta: str | None, prune: dict) -> bool:
    """File-level pruning predicate: False only when the manifest-recorded
    bounds PROVE the file holds no row in every pruned column's [lo, hi]
    window. Missing metadata, missing column, null bounds, or
    incomparable types all fail open (read the file)."""
    if not meta:
        return True
    try:
        obj = json.loads(meta)
        bounds = obj.get("bounds") or {}
    except (ValueError, TypeError):
        return True
    for c, (lo, hi) in prune.items():
        # POINT predicate (lo == hi): a manifest bloom proves absence even
        # when every file's [min, max] straddles the value — the
        # hash-distributed-layout case range bounds cannot prune
        if (
            lo is not None
            and hi is not None
            and lo == hi
            and not _bloom_may_contain(obj, c, lo)
        ):
            return False
        b = bounds.get(c)
        if not b:
            continue
        mn, mx = b
        # per-side: a half-recorded pair (e.g. strict-decode kept min but
        # not max for a binary column) still prunes on its present side
        try:
            if lo is not None and mx is not None and mx < _plain(lo):
                return False
            if hi is not None and mn is not None and mn > _plain(hi):
                return False
        except TypeError:
            continue
    return True


def _range_condition(prune: dict):
    cond = F.lit(True)
    for c, (lo, hi) in prune.items():
        if lo is not None:
            cond = cond & (F.col(c) >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(c) <= F.lit(hi))
    return cond


def _read_manifest(spark: SparkSession, path: str, snap: int) -> DataFrame:
    return spark.read.parquet(_manifest_path(path, snap))


def _manifest_rows(path: str, snap: int) -> list[dict]:
    """A snapshot's manifest entries in ``seq`` order, read on the driver
    with pyarrow (no Spark job). The directory read ignores ``_``/``.``
    files, so manifests Spark wrote (``part-*.parquet`` + ``_SUCCESS``)
    read the same as current ones. Snapshot 0 is the empty table before
    the first commit."""
    if snap <= 0:
        return []
    import pyarrow.parquet as pq

    rows = pq.read_table(_manifest_path(path, snap)).to_pylist()
    for r in rows:
        r.setdefault("meta", None)  # pre-stats tables stay readable
    return sorted(rows, key=lambda r: r["seq"])


def _manifest_entries(
    path: str, snap: int
) -> list[tuple[str, str, int, str | None]]:
    return [
        (r["file"], r["kind"], int(r["epoch_id"]), r["meta"])
        for r in _manifest_rows(path, snap)
    ]


def _recorded_schema(path: str, snap: int) -> StructType | None:
    """The read schema a commit recorded for ``snap``, or None for
    snapshots committed without one (older tables, hand-built commits):
    their reads fall back to ``mergeSchema`` inference."""
    try:
        with open(os.path.join(_manifest_path(path, snap), _SCHEMA)) as f:
            return StructType.fromJson(json.load(f))
    except FileNotFoundError:
        return None


def _read_files(
    spark: SparkSession, files: list[str], schema: StructType | None
) -> DataFrame:
    """Scan data files under the recorded schema (no schema-inference
    job; files missing a column read it as null, as ``mergeSchema``
    would), or infer the union schema when none is recorded."""
    if schema is not None:
        return spark.read.schema(schema).parquet(*files)
    return spark.read.option("mergeSchema", "true").parquet(*files)


def _nullable(dt: DataType) -> DataType:
    """``dt`` with every field and element nullable — the shape parquet
    scans report, so a frame's schema compares equal to the schema its
    written files read back with."""
    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _nullable(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _snapshot_schema(
    spark: SparkSession,
    path: str,
    parent: int,
    entries: list[tuple[str, str, int, str | None]],
    frame_schema: StructType | None,
) -> StructType | None:
    """The read schema to record for a commit on ``parent`` whose new data
    files were written from a frame with ``frame_schema`` (None: the commit
    adds no data file). Parquet files read back with their frame's
    nullable schema, so the first commit (``parent`` 0) records that, and
    the parent's recorded schema carries forward when the frame matches
    it. Otherwise (schema change, parent without a record) one
    ``mergeSchema`` inference over the new snapshot's data files runs
    here, at commit time, instead of on every read."""
    if parent <= 0 and frame_schema is not None:
        return _nullable(frame_schema)
    prev = _recorded_schema(path, parent)
    if prev is not None and (
        frame_schema is None or _nullable(frame_schema) == prev
    ):
        return prev
    files = [f for f, kind, _, _ in entries if kind == "data"]
    if not files:
        return None
    return _read_files(spark, files, None).schema


def create_table(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    bloom_bytes: int = 2048,
) -> int:
    """Initialize a versioned table with snapshot 1 holding ``df``.
    ``stats_cols`` declares the columns whose per-file [min, max] bounds
    every commit records in the manifest (Iceberg's write.metadata
    metrics) — the basis for file pruning in :func:`read_table`.
    ``bloom_cols`` additionally records a per-file Bloom filter of each
    column's values (``bloom_bytes`` per column per file), so POINT
    lookups (``prune={col: (v, v)}``) prune files even when a
    hash-distributed layout makes every file's [min, max] straddle the
    value — the parquet-bloom/Iceberg story at the manifest level."""
    os.makedirs(path, exist_ok=True)
    if current_snapshot(path) is not None:
        raise ValueError(f"versioned table already exists at {path}")
    if stats_cols or bloom_cols:
        props: dict = {}
        if stats_cols:
            props["stats_cols"] = list(stats_cols)
        if bloom_cols:
            props["bloom_cols"] = list(bloom_cols)
            props["bloom_bytes"] = int(bloom_bytes)
        with open(os.path.join(path, _PROPS), "w") as f:
            json.dump(props, f)
    files = _write_files(df, path, "data")
    sc = _stats_cols(path)
    bc, bb = _bloom_spec(path)
    entries = [(f, "data", -1, _footer_meta(f, sc, bc, bb)) for f in files]
    schema = _snapshot_schema(spark, path, 0, entries, df.schema)
    _commit(path, 1, entries, schema=schema)
    return 1


def append_snapshot(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    replace: bool = False,
    branch: str = "main",
) -> int:
    """Commit a new snapshot: previous data + delete files carry forward
    and ``df``'s new files join them. ``replace=True`` starts the manifest
    empty instead — the compaction path that folds merge-on-read deletes
    away (pass ``read_table(spark, path)`` as ``df``). ``branch`` commits
    onto that branch's head and advances ONLY its ref — main readers never
    see the rows until a ``fast_forward`` publishes them (the
    write-audit-publish staging leg)."""
    if current_snapshot(path) is None:
        if branch != "main":
            raise ValueError(f"no versioned table at {path}")
        return create_table(spark, path, df)
    files = _write_files(df, path, "data")
    sc = _stats_cols(path)
    bc, bb = _bloom_spec(path)
    new = [(f, "data", -1, _footer_meta(f, sc, bc, bb)) for f in files]

    def build(cur):
        if replace:
            # epoch markers carry the applied-epoch set through compaction:
            # the rewritten files are epoch -1, but a restarting stream's
            # applied-check reads the CURRENT manifest — dropping the epoch
            # history here would make it re-append the last batches
            applied = sorted(
                {e for _, _, e, _ in _manifest_entries(path, cur) if e >= 0}
            )
            prev = [("", "epoch_marker", e, None) for e in applied]
        else:
            prev = _manifest_entries(path, cur)
        return prev + new

    return _retrying_commit(
        spark, path, build, branch=branch, frame_schema=df.schema
    )


def delete_where(
    spark: SparkSession, path: str, key_col: str, condition, branch: str = "main"
) -> int:
    """Merge-on-read delete: evaluate ``condition`` against the CURRENT
    table (of ``branch``), persist the matching keys as a delete file,
    commit a snapshot whose reads anti-join them. No data file is touched —
    old snapshots still contain the rows (time travel), and the write cost
    is the matched-key set, not a rewrite. The key column is recorded in
    the manifest so readers never open delete files during planning. Keys
    are matched once, at call time — a concurrent commit between
    evaluation and the (retried) commit does not re-evaluate the
    condition."""
    cur = _ref_head(path, branch)
    if cur is None:
        raise ValueError(f"no versioned table or branch {branch!r} at {path}")
    keys = (
        read_table(spark, path, snapshot=cur)
        .filter(condition)
        .select(key_col)
        .distinct()
    )
    files = _write_files(keys, path, "deletes")
    meta = json.dumps({"key_col": key_col})
    new = [(f, "delete", -1, meta) for f in files]

    def build(cur_):
        return _manifest_entries(path, cur_) + new

    return _retrying_commit(spark, path, build, branch=branch)


def delete_where_positions(
    spark: SparkSession, path: str, condition, branch: str = "main"
) -> int:
    """Iceberg POSITION deletes — the second merge-on-read delete flavor:
    instead of key equality, the delete file names exact physical rows as
    (data file path, row index), harvested from the scan's
    ``_metadata.file_path`` / ``_metadata.row_index`` columns. Readers
    anti-join on the pair, so deletion needs NO key column at all — the
    row-level delete for tables without a natural key, and what an engine
    emits for MERGE/DELETE when it already knows the row positions.

    Same commit discipline as :func:`delete_where`: positions are matched
    once at call time against the branch head, written as an immutable
    ``posdelete`` file, committed atomically; no data file is touched, old
    snapshots still show the rows, compaction
    (``append_snapshot(read_table(...), replace=True)``) folds the delete
    away. Rows already suppressed by equality deletes may match the
    condition and be re-recorded — harmless (they stay invisible either
    way). At scale the anti-join is keyed by (file, pos): cost is bounded
    by the accumulated position-delete count, exactly Iceberg's MOR read
    amplification, and the reason compaction exists."""
    cur = _ref_head(path, branch)
    if cur is None:
        raise ValueError(f"no versioned table or branch {branch!r} at {path}")
    rows = _manifest_rows(path, cur)
    files = [r["file"] for r in rows if r["kind"] == "data"]
    if not files:
        raise ValueError(f"versioned table at {path} has no data files")
    scan = (
        _read_files(spark, files, _recorded_schema(path, cur))
        .withColumn("_dfile", F.col("_metadata.file_path"))
        .withColumn("_dpos", F.col("_metadata.row_index"))
    )
    keys = scan.filter(condition).select("_dfile", "_dpos").distinct()
    dfiles = _write_files(keys, path, "deletes")
    meta = json.dumps({"type": "pos"})
    new = [(f, "posdelete", -1, meta) for f in dfiles]

    def build(cur_):
        return _manifest_entries(path, cur_) + new

    return _retrying_commit(spark, path, build, branch=branch)


def delete_where_cow(
    spark: SparkSession,
    path: str,
    condition,
    prune: dict | None = None,
    branch: str = "main",
) -> int | None:
    """COPY-ON-WRITE delete — the other half of Iceberg's delete story
    (reference stores rows immutably; `services/*`): instead of writing a
    delete file that every future read must anti-join (merge-on-read,
    :func:`delete_where`), rewrite the affected data files WITHOUT the
    matching rows and carry every other file forward untouched. Reads of
    the new snapshot pay zero merge cost; the write cost is proportional
    to the files that might contain matches, not the table.

    ``prune`` (column -> (lo, hi), the :func:`read_table` shape) is the
    planning predicate: files whose manifest-recorded bounds cannot
    intersect it are carried forward by manifest entry alone — at 100 TB a
    delete of one day's rows from a date-stats table rewrites that day's
    files only. Without ``prune`` every data file is a rewrite candidate
    (full-table COW). ``condition`` is the exact row predicate; rows are
    matched ONCE, at call time, against the branch head (the
    :func:`delete_where` discipline).

    The rewritten files are MOR-RESOLVED: equality/position deletes that
    applied to the candidate files are folded into the rewrite (the new
    files sit after every delete entry in manifest order, so no delete
    re-applies to them), while surviving delete entries still suppress
    rows in carried-forward older files. Old snapshots still see the
    original files (time travel); a concurrent replace-compaction that
    drops a candidate file from the head manifest aborts the commit
    loudly rather than resurrecting its rows.

    Returns the committed snapshot id, or None when planning proves no
    file could contain a match (nothing to do - no empty commit)."""
    cur = _ref_head(path, branch)
    if cur is None:
        raise ValueError(f"no versioned table or branch {branch!r} at {path}")
    entries = _manifest_rows(path, cur)
    cand = {
        r["file"]
        for r in entries
        if r["kind"] == "data" and (prune is None or _may_contain(r["meta"], prune))
    }
    if not cand:
        return None
    seen_dels = {
        r["file"] for r in entries if r["kind"] in ("delete", "posdelete")
    }
    # keep NOT(cond) OR cond IS NULL: DELETE removes rows where the
    # predicate is TRUE; a NULL predicate keeps the row (the same rows
    # delete_where's filter(condition) key harvest would leave alone)
    survivors = read_table(
        spark, path, snapshot=cur, _data_files=cand
    ).filter(F.coalesce(~condition, F.lit(True)))
    sc = _stats_cols(path)
    new = [
        (f, "data", -1, _footer_meta(f, sc, *_bloom_spec(path)))
        for f in _write_files(survivors, path, "data")
    ]

    def build(cur_):
        ents = _manifest_entries(path, cur_)
        live = {f for f, k, _, _ in ents if k == "data"}
        if not cand <= live:
            raise RuntimeError(
                "delete_where_cow: a concurrent commit removed a rewrite "
                f"candidate from the manifest ({sorted(cand - live)[:3]}...) "
                "- re-run against the new head"
            )
        # a delete file that landed AFTER our snapshot read would apply to
        # the candidate files we rewrote but NOT to our replacement files
        # (they sit after it in seq order) — committing would silently
        # resurrect its rows inside the rewrite. Iceberg's validation
        # rule: fail the optimistic commit on conflicting deletes.
        fresh_dels = [
            f
            for f, k, _, _ in ents
            if k in ("delete", "posdelete") and f not in seen_dels
        ]
        if fresh_dels:
            raise RuntimeError(
                "delete_where_cow: a concurrent delete committed during "
                f"the rewrite ({fresh_dels[:3]}...) - re-run against the "
                "new head"
            )
        kept = [e for e in ents if not (e[1] == "data" and e[0] in cand)]
        return kept + new

    return _retrying_commit(
        spark, path, build, branch=branch, frame_schema=survivors.schema
    )


def upsert_snapshot(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    key_col: str,
    branch: str = "main",
) -> int:
    """MERGE INTO semantics in ONE commit: ``df``'s rows replace any
    existing rows with the same key and insert the rest — implemented as
    a delete-keys file (``df``'s keys) plus a data file (``df`` itself)
    committed in a single manifest + pointer swap, so readers see the
    upsert atomically and never a deleted-but-not-reinserted window.

    Merge-on-read all the way down: no existing file is rewritten, the
    previous snapshot still shows the old rows. Within one snapshot the
    delete keys must not suppress the NEW rows — read_table applies
    delete files only to data files from EARLIER manifest positions
    (Iceberg's sequence-number rule, emulated with the manifest row
    order)."""
    if current_snapshot(path) is None:
        if branch != "main":
            raise ValueError(f"no versioned table at {path}")
        return create_table(spark, path, df)
    keys = df.select(key_col).distinct()
    dfiles = _write_files(keys, path, "deletes")
    afiles = _write_files(df, path, "data")
    sc = _stats_cols(path)
    dmeta = json.dumps({"key_col": key_col})
    new = [(f, "delete", -1, dmeta) for f in dfiles] + [
        (f, "data", -1, _footer_meta(f, sc, *_bloom_spec(path))) for f in afiles
    ]

    def build(cur):
        return _manifest_entries(path, cur) + new

    return _retrying_commit(
        spark, path, build, branch=branch, frame_schema=df.schema
    )


def read_table(
    spark: SparkSession,
    path: str,
    snapshot: int | None = None,
    key_col: str | None = None,
    prune: dict | None = None,
    ref: str | None = None,
    _data_files: set[str] | None = None,
) -> DataFrame:
    """Read the table AS OF ``snapshot`` (default: current). Data files
    union under one parquet scan (pushdown/pruning intact); delete keys
    anti-join on the manifest-recorded key column (falling back to
    ``key_col``/schema inference for pre-metadata tables). Reading a
    historical snapshot costs the same as reading the current one —
    nothing is reconstructed. Planning reads only driver-side metadata
    (the manifest and the snapshot's recorded schema), so building the
    frame of a delete-free snapshot launches no Spark job; a snapshot
    without a recorded schema infers it with ``mergeSchema``.

    ``ref`` names a branch or tag to read instead (``read_table(...,
    ref="audit")`` — Iceberg's branch/tag reads); mutually exclusive with
    ``snapshot``.

    ``prune`` maps column -> (lo, hi) (either bound may be None): the
    result contains exactly the rows satisfying the range predicate, but
    files whose manifest-recorded bounds cannot intersect it are dropped
    at PLANNING time — the parquet reader never sees their paths. On a
    table whose stats_cols cover the predicate this makes scan planning
    O(matching files); without recorded bounds it degrades gracefully to
    a plain filtered read.

    ``_data_files`` (internal - the copy-on-write rewrite path) restricts
    the scan to a subset of the snapshot's data files while still applying
    every delete file exactly as a full read would: the MOR-resolved
    content of just those files."""
    if ref is not None:
        if snapshot is not None:
            raise ValueError("pass snapshot= or ref=, not both")
        snap = _resolve_ref(path, ref)
    else:
        snap = current_snapshot(path) if snapshot is None else int(snapshot)
    if snap is None:
        raise ValueError(f"no versioned table at {path}")
    rows = _manifest_rows(path, snap)
    schema = _recorded_schema(path, snap)
    data = [
        (r["file"], r["seq"], r["meta"]) for r in rows if r["kind"] == "data"
    ]
    dels = [
        (r["file"], r["seq"], r["meta"]) for r in rows if r["kind"] == "delete"
    ]
    pos_dels = [r["file"] for r in rows if r["kind"] == "posdelete"]
    # kind == "epoch_marker" rows carry stream idempotence state only
    if _data_files is not None:
        data = [t for t in data if t[0] in _data_files]
        if not data:
            raise ValueError("_data_files matched no data file in snapshot")

    def _apply_pos_deletes(scan: DataFrame) -> DataFrame:
        """Anti-join positional delete keys (_dfile, _dpos) against the
        scan's file metadata — Iceberg's position deletes: exact physical
        rows, no key semantics, applicable regardless of seq because a
        later data file can never appear in an earlier delete's key set.
        Zero overhead when the table has none."""
        if not pos_dels:
            return scan
        keys = spark.read.parquet(*pos_dels).select("_dfile", "_dpos").distinct()
        tagged = scan.withColumn(
            "_dfile", F.col("_metadata.file_path")
        ).withColumn("_dpos", F.col("_metadata.row_index"))
        return tagged.join(keys, ["_dfile", "_dpos"], "left_anti").drop(
            "_dfile", "_dpos"
        )
    if prune:
        kept = [(f, s, m) for f, s, m in data if _may_contain(m, prune)]
        if not kept:
            # bounds excluded everything: an empty frame with the right
            # schema (borrow the newest file — schema evolution widens)
            src = data[-1][0] if data else None
            if src is None:
                raise ValueError(f"versioned table at {path} has no data files")
            return _read_files(spark, [src], schema).filter(F.lit(False))
        data = kept
    # snapshots may span a schema evolution (an append with a widened
    # schema is just new data files): every scan reads the snapshot's
    # recorded union schema, nulls for pre-evolution rows; old snapshots
    # keep their narrower one
    if not dels:
        out = _apply_pos_deletes(
            _read_files(spark, [f for f, _, _ in data], schema)
        )
        return out.filter(_range_condition(prune)) if prune else out
    # the sequence rule (Iceberg's): a delete file suppresses rows only in
    # data files committed BEFORE it — an upsert's own rows must survive
    # its own delete keys. Data files sharing the same applicable-delete
    # set scan together; the group count is bounded by the delete-file
    # count (compaction via append_snapshot(replace=True) resets both).
    del_meta = {f: m for f, _, m in dels}
    out = None
    groups: dict[tuple, list[str]] = {}
    for f, seq, _ in data:
        applicable = tuple(df_ for df_, ds, _ in dels if ds > seq)
        groups.setdefault(applicable, []).append(f)
    for applicable, files in groups.items():
        part = _apply_pos_deletes(_read_files(spark, files, schema))
        # delete files may be keyed by DIFFERENT columns (delete_where on
        # doc_id, then on lang): group them by key column and anti-join
        # once per column — one mixed-schema scan would null out every
        # file's missing column and silently stop deleting. The key column
        # comes from the manifest; the per-dir schema sniff survives only
        # as the fallback for pre-metadata tables.
        by_col: dict[str, list[str]] = {}
        for d in applicable:
            kc = None
            m = del_meta.get(d)
            if m:
                try:
                    kc = json.loads(m).get("key_col")
                except (ValueError, TypeError):
                    kc = None
            if kc is None:
                cols = spark.read.parquet(d).columns
                kc = key_col if (key_col and key_col in cols) else cols[0]
            by_col.setdefault(kc, []).append(d)
        for kc, dirs in by_col.items():
            keys = spark.read.parquet(*dirs)
            part = part.join(keys.select(kc).distinct(), kc, "left_anti")
        out = part if out is None else out.unionByName(
            part, allowMissingColumns=True
        )
    return out.filter(_range_condition(prune)) if prune else out


def read_appends_since(
    spark: SparkSession,
    path: str,
    since_snapshot: int,
    snapshot: int | None = None,
    prune: dict | None = None,
) -> DataFrame:
    """Incremental consumption: rows in data files ADDED after
    ``since_snapshot`` (exclusive) up to ``snapshot`` (default current) —
    a file-level diff of the two manifests, so the read cost is the new
    files only, never the table. The downstream-ETL primitive Iceberg
    calls an incremental scan: consumers checkpoint the snapshot id they
    last processed and poll. Exact for append-only flows; merge-on-read
    deletes that landed in the window affect the CURRENT view, not what
    was appended (query read_table for the net state). ``prune`` applies
    the same manifest-bounds file pruning + range filter as
    :func:`read_table`."""
    hi = current_snapshot(path) if snapshot is None else int(snapshot)
    if hi is None:
        raise ValueError(f"no versioned table at {path}")
    # since_snapshot=0: "everything ever committed" (the streaming
    # source's initial-offset convention — no base manifest to diff)
    old = {
        r["file"]
        for r in _manifest_rows(path, since_snapshot)
        if r["kind"] == "data"
    }
    hi_rows = _manifest_rows(path, hi)
    hi_data = [(r["file"], r["meta"]) for r in hi_rows if r["kind"] == "data"]
    new = [(f, m) for f, m in hi_data if f not in old]
    if old and hi_data and not (old & {f for f, _ in hi_data}):
        # a replace-compaction rewrote history between the checkpoints:
        # every "new" file would actually re-deliver old rows. Refuse
        # loudly — the consumer must re-baseline from a full read_table
        # (or poll across compactions, which preserve no file lineage).
        raise ValueError(
            f"read_appends_since({since_snapshot}->{hi}): no data file "
            "survives from the base snapshot — the window spans a "
            "replace-compaction; re-baseline with read_table"
        )
    if prune:
        new = [(f, m) for f, m in new if _may_contain(m, prune)]
    if not new:
        # empty window: borrow the NEWEST file's schema (a pre-evolution
        # file would intermittently drop evolved columns)
        src = [f for f, _ in hi_data[-1:]] or sorted(old)[-1:]
        return spark.read.option("mergeSchema", "true").parquet(*src).limit(0)
    out = spark.read.option("mergeSchema", "true").parquet(*[f for f, _ in new])
    return out.filter(_range_condition(prune)) if prune else out


def snapshot_diff(
    spark: SparkSession,
    path: str,
    from_snapshot: int,
    to_snapshot: int,
    key_col: str,
) -> DataFrame:
    """Row-level change-data-capture between two snapshots: each key's
    state compared across the two committed views — ``insert`` (new key),
    ``delete`` (gone key), ``update`` (same key, changed row content via a
    sha2 digest of the non-key columns). Cost is two committed reads +
    one full-outer join keyed by ``key_col``; for the common append-only
    window the cheaper :func:`read_appends_since` answers from the file
    diff without touching history."""
    ta = read_table(spark, path, from_snapshot)
    tb = read_table(spark, path, to_snapshot)

    def digest(df):
        others = sorted(c for c in df.columns if c != key_col)
        return df.select(
            F.col(key_col),
            F.sha2(F.to_json(F.struct(*[F.col(c) for c in others])), 256).alias(
                "_h"
            ),
        )

    a = digest(ta).withColumnRenamed("_h", "_ha")
    b = digest(tb).withColumnRenamed("_h", "_hb")
    j = a.join(b, key_col, "full_outer")
    return j.select(
        key_col,
        F.when(F.col("_ha").isNull(), F.lit("insert"))
        .when(F.col("_hb").isNull(), F.lit("delete"))
        .when(F.col("_ha") != F.col("_hb"), F.lit("update"))
        .alias("change"),
    ).filter(F.col("change").isNotNull())


def snapshot_changelog(
    spark: SparkSession,
    path: str,
    from_snapshot: int,
    to_snapshot: int,
    key_col: str,
) -> DataFrame:
    """Row-level change feed between two snapshots with FULL ROWS — the
    Iceberg changelog-scan (CDF) shape: ``insert`` rows carry the new
    row, ``delete`` rows carry the PRE-IMAGE (the row as it stood at
    ``from_snapshot``), and an updated key emits an ``update_preimage`` /
    ``update_postimage`` pair. :func:`snapshot_diff` is the key-only
    classification; this is what a downstream mirror or audit consumer
    replays. Works across EVERY commit kind — MOR equality deletes,
    position deletes, copy-on-write rewrites, upserts, compaction —
    because it compares the two committed VIEWS rather than walking
    per-commit files; the price is two committed reads plus one
    full-outer join keyed by ``key_col`` (the honest equality-delete CDC
    cost; the streaming source in sources/snapshot_cdc.py is the
    O(new files) per-commit feed for append/delete/upsert lineages).
    ``key_col`` must uniquely identify rows (the standard CDC contract,
    as in snapshot_diff): duplicate keys would cross-product in the join
    and report spurious updates. Output = table schema (as of
    ``to_snapshot``) + ``_change_type``."""
    ta = read_table(spark, path, from_snapshot)
    tb = read_table(spark, path, to_snapshot)
    cols = tb.columns
    ta = ta.select(
        *[F.col(c) if c in ta.columns else F.lit(None).alias(c) for c in cols]
    )

    def keyed(df, tag):
        others = sorted(c for c in df.columns if c != key_col)
        return df.select(
            F.col(key_col).alias("_k"),
            F.sha2(
                F.to_json(F.struct(*[F.col(c) for c in others])), 256
            ).alias(f"_h{tag}"),
            F.struct(*cols).alias(f"_r{tag}"),
        )

    j = keyed(ta, "a").join(keyed(tb, "b"), "_k", "full_outer")
    ins = j.filter(F.col("_ha").isNull()).select(
        "_rb.*", F.lit("insert").alias("_change_type")
    )
    dele = j.filter(F.col("_hb").isNull()).select(
        "_ra.*", F.lit("delete").alias("_change_type")
    )
    upd = j.filter(
        F.col("_ha").isNotNull()
        & F.col("_hb").isNotNull()
        & (F.col("_ha") != F.col("_hb"))
    )
    pre = upd.select("_ra.*", F.lit("update_preimage").alias("_change_type"))
    post = upd.select("_rb.*", F.lit("update_postimage").alias("_change_type"))
    return ins.unionByName(dele).unionByName(pre).unionByName(post)


def rollback(path: str, snapshot: int) -> None:
    """Point the table back at an earlier committed snapshot — a pointer
    swap, nothing rewritten; later snapshots stay readable by id until
    expired."""
    if not os.path.exists(_manifest_path(path, snapshot)):
        raise ValueError(f"snapshot {snapshot} does not exist at {path}")
    _swap_pointer(path, snapshot)


def _parents_of(path: str, snap: int) -> int | None:
    """The recorded parent of ``snap`` from its ``_commit.json``, or None
    when unknown (pre-refs commits carry no ancestry record)."""
    try:
        with open(os.path.join(_manifest_path(path, snap), "_commit.json")) as f:
            return int(json.load(f)["parent"])
    except (FileNotFoundError, KeyError, ValueError):
        return None


def fast_forward(path: str, to_ref: str, branch: str = "main") -> int:
    """Publish: advance ``branch`` to another ref's head — Iceberg's
    fast-forward, the final leg of write-audit-publish (stage commits on
    an ``audit`` branch, run checks against ``read_table(ref="audit")``,
    then ``fast_forward(path, "audit")`` makes main readers see the whole
    staged lineage atomically — one pointer swap, no data rewritten).

    Fast-forward ONLY: the target's ancestry chain (each commit's
    ``_commit.json`` parent record) must reach the current branch head;
    otherwise the branch has commits the target lacks and advancing would
    silently drop them — that case raises, like Iceberg's
    fast_forward procedure. The advance itself is serialized through the
    same per-(branch, parent) commit claim every writer uses, so it cannot
    race a concurrent commit on the branch."""
    target = _resolve_ref(path, to_ref)
    head = _ref_head(path, branch)
    if head is None:
        raise ValueError(f"no versioned table or branch {branch!r} at {path}")
    if target == head:
        return head
    walk = target
    while walk is not None and walk > head:
        walk = _parents_of(path, walk)
    if walk != head:
        raise ValueError(
            f"{to_ref!r} (snapshot {target}) is not a descendant of "
            f"{branch!r} (snapshot {head}) — not a fast-forward"
        )
    claim = _acquire_claim(path, head + 1, branch)
    try:
        if _ref_head(path, branch) != head:
            raise CommitConflictError(
                f"branch {branch!r} advanced during fast-forward at {path}"
            )
        _advance_ref(path, branch, target)
    finally:
        try:
            os.remove(claim)
        except FileNotFoundError:
            pass
    return target


def expire_snapshots(
    spark: SparkSession,
    path: str,
    keep_last: int = 1,
    vacuum_older_than_seconds: float = 0.0,
) -> dict:
    """Drop manifests older than the last ``keep_last`` (current snapshot
    always retained) and VACUUM files no retained manifest references —
    crash-window orphans (written but never committed) go with them.
    Returns counts. Time travel beyond the retention is gone; that is the
    point (storage reclamation).

    Liveness is decided on ``os.path.abspath``-normalized paths on BOTH
    sides, so a relative-vs-absolute spelling mismatch between the write
    path and the expire path can never make live data look unreferenced.

    ``vacuum_older_than_seconds`` is Iceberg remove_orphan_files'
    ``older_than`` grace period: unreferenced directories younger than the
    cutoff are LEFT ALONE, because a concurrent writer mid-commit has
    written its files but not yet swapped the pointer — sweeping them
    would let its commit succeed with a manifest pointing at deleted
    files. The default (0 = vacuum everything unreferenced now) is only
    safe when no writer runs concurrently; production callers with
    concurrent writers should pass hours."""
    cur = current_snapshot(path)
    if cur is None:
        return {"snapshots_removed": 0, "files_removed": 0}
    snaps = sorted(
        int(d) for d in os.listdir(_snap_dir(path)) if d.isdigit()
    )
    # max(1, ..): keep_last=0 would slice [-0:] == the WHOLE list and
    # silently retain everything; the current snapshot is the floor.
    # Every live ref head (branch or tag) is likewise retained — a tag is
    # precisely a retention anchor, and expiring a branch head would
    # leave its ref dangling (Iceberg never expires ref heads).
    refs = list_refs(path)
    heads = set(refs["branch"].values()) | set(refs["tag"].values())
    keep = set(snaps[-max(1, keep_last):]) | {cur} | heads
    referenced: set[str] = set()
    for snap in keep:
        for r in _manifest_rows(path, snap):
            if r["file"]:  # epoch_marker rows carry no path
                p = os.path.abspath(r["file"])
                referenced.add(p)
                # per-file manifest entries live inside a commit directory
                # and vacuum sweeps at directory granularity — a referenced
                # part file keeps its commit dir (whose files all belong to
                # the same atomic commit). Legacy dir entries add path/<kind>
                # here, which matches no vacuum candidate — harmless.
                referenced.add(os.path.dirname(p))
    removed_snaps = 0
    for snap in snaps:
        if snap not in keep:
            shutil.rmtree(_manifest_path(path, snap))
            removed_snaps += 1
    removed_files = 0
    cutoff = time.time() - max(0.0, vacuum_older_than_seconds)
    for kind in ("data", "deletes"):
        base = os.path.join(path, kind)
        if not os.path.isdir(base):
            continue
        for d in os.listdir(base):
            full = os.path.join(base, d)
            if os.path.abspath(full) in referenced:
                continue
            try:
                if vacuum_older_than_seconds > 0 and os.path.getmtime(full) > cutoff:
                    continue  # inside the grace period: possible in-flight commit
            except FileNotFoundError:
                continue
            shutil.rmtree(full)
            removed_files += 1
    return {"snapshots_removed": removed_snaps, "files_removed": removed_files}


def append_snapshot_epoch(
    spark: SparkSession,
    path: str,
    batch_df: DataFrame,
    epoch_id: int,
    stats_cols: list[str] | None = None,
    branch: str = "main",
) -> int | None:
    """Exactly-once streaming append into the versioned table: one
    SNAPSHOT per micro-batch, idempotent per ``epoch_id`` (the reference's
    stream->Iceberg sink with real commit semantics). The applied-check
    reads the CURRENT manifest's epoch column — the manifest-behind-the-
    pointer is the single source of truth, so there is no second ledger
    that could disagree with it. The pointer swap is the atomic commit:
    a crash anywhere before it leaves the previous snapshot current and
    the replay redoes the batch with identical content; the first
    attempt's unreferenced files are vacuumed by expire_snapshots.

    ``stats_cols`` (honored when THIS call creates the table) declares the
    manifest-statistics columns, so a stream-born table gets pruned
    incremental scans from its first commit."""
    cur = _ref_head(path, branch)
    if cur is None and branch != "main":
        raise ValueError(f"no versioned table or branch {branch!r} at {path}")
    if cur is not None and any(
        r["epoch_id"] == int(epoch_id) for r in _manifest_rows(path, cur)
    ):
        return None
    os.makedirs(path, exist_ok=True)
    if cur is None and stats_cols and not os.path.exists(
        os.path.join(path, _PROPS)
    ):
        with open(os.path.join(path, _PROPS), "w") as f:
            json.dump({"stats_cols": list(stats_cols)}, f)
    files = _write_files(batch_df, path, "data")
    sc = _stats_cols(path)
    new = [
        (f, "data", int(epoch_id), _footer_meta(f, sc, *_bloom_spec(path)))
        for f in files
    ]
    if cur is None:
        schema = _snapshot_schema(spark, path, 0, new, batch_df.schema)
        _commit(path, 1, new, schema=schema)
        return 1

    def build(cur_):
        return _manifest_entries(path, cur_) + new

    return _retrying_commit(
        spark, path, build, branch=branch, frame_schema=batch_df.schema
    )


def write_stream_to_versioned(
    df: DataFrame,
    path: str,
    checkpoint: str,
    trigger_seconds: int = 2,
    stats_cols: list[str] | None = None,
    branch: str = "main",
):
    """[EXT] the reference's streaming sink with transactional semantics:
    every micro-batch commits one snapshot of the versioned table
    (append_snapshot_epoch — idempotent under foreachBatch's at-least-once
    replay). Readers always see a committed snapshot; history/rollback/
    time travel work on the live table. ``stats_cols`` declares the
    manifest-statistics columns when the sink creates the table, so
    downstream pruned reads work on stream-born tables too."""
    from demo_bigdata_spark.streaming.pipeline import _start_fold

    spark = df.sparkSession

    def _fold(batch_df: DataFrame, epoch_id: int) -> None:
        append_snapshot_epoch(
            spark, path, batch_df, epoch_id, stats_cols=stats_cols,
            branch=branch,
        )

    return _start_fold(df, checkpoint, trigger_seconds, _fold)


def rewrite_table_layout(
    spark: SparkSession,
    path: str,
    zorder_by: list[str] | None = None,
    order_by: list[str] | None = None,
    bits: int = 16,
    n_files: int = 8,
) -> int:
    """Iceberg's rewrite_data_files as a snapshot commit: re-cluster the
    CURRENT committed view (Z-order over ``zorder_by``, else range sort
    over ``order_by``) and commit the rewritten files through the replace
    path — one atomic, rollback-able snapshot that also folds accumulated
    merge-on-read deletes away and carries the applied-epoch markers
    forward. Time travel to every pre-rewrite snapshot is untouched; the
    new snapshot's row-group min/max stats are tight on the cluster
    columns, so both parquet footer pruning AND (when stats_cols cover
    them) manifest file pruning get sharper from this commit on."""
    from .layout import range_cluster, zorder_cluster

    if bool(zorder_by) == bool(order_by):
        raise ValueError("pass exactly one of zorder_by / order_by")
    cur = read_table(spark, path)
    clustered = (
        zorder_cluster(cur, zorder_by, bits=bits, n_files=n_files)
        if zorder_by
        else range_cluster(cur, order_by, n_files=n_files)
    )
    return append_snapshot(spark, path, clustered, replace=True)


def snapshot_history(spark: SparkSession, path: str) -> list[dict]:
    """Table history: per retained snapshot, its file counts by kind —
    the DESCRIBE HISTORY analog."""
    out = []
    for d in sorted(os.listdir(_snap_dir(path))):
        if not d.isdigit():
            continue
        counts = Counter(r["kind"] for r in _manifest_rows(path, int(d)))
        out.append({"snapshot": int(d), **counts})
    return out


def table_files(
    spark: SparkSession, path: str, snapshot: int | None = None
) -> DataFrame:
    """Iceberg's ``files`` metadata table: the manifest AS a queryable
    DataFrame — (file, kind, epoch_id, seq, meta) per entry, meta holding
    the recorded bounds/key-column JSON. Operators debug pruning and audit
    commits with SQL instead of spelunking the directory tree."""
    snap = current_snapshot(path) if snapshot is None else int(snapshot)
    if snap is None:
        raise ValueError(f"no versioned table at {path}")
    m = _read_manifest(spark, path, snap)
    if "meta" not in m.columns:  # pre-metadata manifests
        m = m.withColumn("meta", F.lit(None).cast("string"))
    return m.orderBy("seq")


def table_history(spark: SparkSession, path: str) -> DataFrame:
    """Iceberg's ``history``/``snapshots`` metadata table: one row per
    retained snapshot with per-kind file counts and the current flag."""
    cur = current_snapshot(path)
    rows = [
        (
            h["snapshot"],
            int(h.get("data", 0)),
            int(h.get("delete", 0)),
            int(h.get("epoch_marker", 0)),
            h["snapshot"] == cur,
        )
        for h in snapshot_history(spark, path)
    ]
    return local_frame(
        spark,
        rows,
        "snapshot int, n_data_files int, n_delete_files int, "
        "n_epoch_markers int, is_current boolean",
    )


def table_refs(spark: SparkSession, path: str) -> DataFrame:
    """Iceberg's ``refs`` metadata table: one row per named ref (main +
    branches + tags) with its head snapshot and that commit's recorded
    parent — the audit view of a write-audit-publish flow."""
    refs = list_refs(path)
    rows = [
        (name, kind, int(snap), _parents_of(path, int(snap)))
        for kind in ("branch", "tag")
        for name, snap in sorted(refs[kind].items())
    ]
    return local_frame(spark, rows, "name string, kind string, snapshot int, parent int")
