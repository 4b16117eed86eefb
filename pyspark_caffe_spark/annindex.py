"""Persisted IVF index store: the on-disk format, the manifest commit
protocol, GC, the corpus stamp, the IVF geometry and training, and the
build / append / compact / serve paths.

The module boundary follows REPOSE (ICDE 2021): a GLOBAL routing layer
— the one-row ``meta`` stamp, the nlist-row ``centroids`` table and
the ``POSTINGS_GEN`` manifest — over PARTITION-LOCAL postings
(``postings`` / ``postings_gen<N>`` / ``postings_seg<N>`` directories,
each written ``partitionBy("cell")``).  Routing is driver-local and
tiny at every corpus scale; a probe is a partition-pruned scan of the
probed cells only.

Each decision has one owner here:

* layout resolution — :func:`_ann_base_path` (the vanished-dir →
  ``postings`` fallback) and :func:`_ann_live_paths`;
* durability — :func:`_fsync_path` (fsync, swallow only
  ``_FSYNC_UNSUPPORTED``), composed by :func:`_fsync_tree` and the
  manifest commit;
* the commit point — :func:`_ann_manifest_commit`;
* GC — :func:`_ann_gc`, parameterized by the names to keep;
* the stamp fold — :func:`_ann_fold` (``gen_n + Σ seg``), lifted onto
  the meta stamp by :func:`_ann_effective_stamp`;
* the identity aggregate — :func:`_ann_identity_exprs`;
* open-and-validate — :func:`_ann_open`; the reuse gate —
  :func:`_ann_reuse_or_rebuild`;
* the IVF pieces the non-persisting keys share — the ``(vec_id, emb)``
  projection, the query slice, centroid training and the geometry.

The query verbs that drive this store live in ``queries/scale_ops.py``
and only call into this module; nothing here imports the query
registry.
"""

from __future__ import annotations

import contextlib
import errno
import os
from typing import Callable, Iterator, TypeVar

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from pyspark_caffe_spark.tables import load_table

T = TypeVar("T")

# Exceptions a spark.read.parquet of a TORN dataset (crash mid-write:
# corrupt footer, missing commit marker) can raise — reuse gates catch
# these alongside FileNotFoundError/ValueError and route to rebuild.
# Guarded imports: Spark Connect sessions have no py4j.
try:
    from pyspark.errors import AnalysisException as _AnalysisException
except ImportError:  # pragma: no cover - AnalysisException exists in 4.x
    _AnalysisException = None
try:
    from py4j.protocol import Py4JJavaError as _Py4JJavaError
except ImportError:  # pragma: no cover - connect-only installs
    _Py4JJavaError = None
_SPARK_READ_ERRORS = tuple(
    e for e in (_AnalysisException, _Py4JJavaError) if e is not None
)


#: message/errorClass shapes that mean "the artifact on disk is
#: absent, unreadable, or torn" — the ONLY failures a reuse gate owns.
_ARTIFACT_ERROR_SHAPES = (
    # absent / vanished paths and the schema-inference failure an
    # empty-or-torn dataset dir produces at spark.read time
    "PATH_NOT_FOUND",
    "Path does not exist",
    "UNABLE_TO_INFER_SCHEMA",
    "Unable to infer schema",
    # torn data files: ALL the shapes measured from torn files on this
    # pyspark — a bare-fs tear fails the footer parse, while a tear
    # under a Spark-written dir fails the .crc sidecar check first
    "FAILED_READ_FILE",
    "CANNOT_READ_FILE_FOOTER",
    "not a Parquet file",
    "ChecksumException",
    "Checksum error",
)


def _is_artifact_read_failure(ex: BaseException) -> bool:
    """True when ``ex`` is the kind of failure a reuse gate OWNS —
    the persisted artifact is absent, unreadable, or torn — as opposed
    to an unrelated runtime error that happened to surface inside the
    gate's try block.  BOTH exception classes are gated on message
    shape (round-13 advisory):

    - AnalysisException is NOT artifact-shaped by isinstance alone — a
      genuine code bug raised inside the gated calls (UNRESOLVED_COLUMN
      from a bad projection, a malformed expression) also surfaces as
      AnalysisException, and routing it to a silent rebuild+retry
      would mask the bug AND quietly turn a pure-serve product metric
      into serve+build.  It qualifies only with an artifact-shaped
      errorClass/message (absent path, uninferable schema, unreadable
      file).
    - Py4JJavaError likewise qualifies only on the torn-file shapes;
      a transient executor OOM, disk-full, or shuffle failure must
      PROPAGATE.  Matching skips pure stack-frame lines ("at pkg...")
      so a frame whose class name happens to contain a needle can
      never classify an unrelated error; exception-message and
      "Caused by:" lines (where a wrapped torn-read cause genuinely
      surfaces) are kept.
    """
    if _AnalysisException is not None and isinstance(ex, _AnalysisException):
        cond = getattr(ex, "getCondition", None) or getattr(
            ex, "getErrorClass", None
        )
        name = ""
        if callable(cond):
            try:
                name = cond() or ""
            except Exception:
                name = ""
        hay = f"{name}\n{ex}"
        return any(shape in hay for shape in _ARTIFACT_ERROR_SHAPES)
    hay = "\n".join(
        line
        for line in str(ex).splitlines()
        if not line.lstrip().startswith("at ")
    )
    return any(shape in hay for shape in _ARTIFACT_ERROR_SHAPES)


# ---------------------------------------------------------------------------
# IVF geometry and training, shared with the keys that do not persist
# an index (sim_knn_ivf, sim_knn_ivf_batch)
# ---------------------------------------------------------------------------

#: shared IVF geometry.  nprobe/m follow the measured
#: sim_knn_ivf_batch sweep: these near-uniform 64-d fixtures are the
#: IVF worst case, and 16/10/3 is the narrowest setting where every
#: query clears the 0.9-recall bar with margin.
_ANN_NLIST, _ANN_NPROBE, _ANN_K, _ANN_M = 16, 10, 10, 3

#: bumped whenever the on-disk index layout or geometry semantics
#: change (postings schema, multi-assignment rule, centroid dtype…).
#: The serve path REFUSES an index stamped with a different version —
#: a scratch dir surviving a code upgrade must never silently serve
#: stale geometry (round-9 verdict #4).
_ANN_WRITER_VERSION = 3  # v3: meta gains the corpus fingerprint columns

#: segment cap per manifest (round-15, closing the round-14 residual):
#: every append commits one more segment line, and the serve path's
#: union plan grows one leg per live segment — unbounded K between
#: manual compacts meant a long ingest run could degrade every probe
#: into a K-way union of tiny files.  ``_ann_append`` auto-triggers
#: the crash-safe compaction swap once a commit would leave the live
#: segment count AT the cap, so K never exceeds it and the amortized
#: ingest cost stays O(|delta|·m) + O(|corpus|/cap) — the standard
#: LSM folding bound.
_ANN_MAX_SEGMENTS = 10


def _ann_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The indexed corpus as ``(vec_id, emb array<double>)`` — the one
    projection every IVF key, the index build and the serve path read."""
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )


def _ann_query_pred() -> Column:
    """The serving query slice: the hash-exact ``vec_id % 20 = 3``
    rows, bounded by ``vec_id < 2000``.  The bound is a no-op at every
    fixture SF (ids stop below 2000) but pins |Q| at scale — a query
    set defined as a fixed fraction of the corpus would make the
    serving pass O(|Q|·N) = quadratic (round-8 100× sweep lesson).
    One definition for the batch key, the serve path's query collect
    AND its corpus exclusion, and the refresh's shared pre-collect, so
    none of them can drift from the others or from the oracles'
    ``WHERE vec_id % 20 = 3 AND vec_id < 2000``."""
    return (F.pmod(F.col("vec_id"), F.lit(20)) == 3) & (F.col("vec_id") < 2000)


def _lloyd_spherical(sample: np.ndarray, nlist: int, iters: int = 10) -> np.ndarray:
    """Spherical Lloyd k-means on unit vectors: assign by max dot
    product, recenter on the L2-normalized mean. Deterministic — init
    is the first ``nlist`` sample rows (sample is vec_id-ordered); an
    emptied cluster keeps its previous centroid."""
    cents = sample[:nlist].copy()
    for _ in range(iters):
        assign = np.argmax(sample @ cents.T, axis=1)
        for c in range(nlist):
            members = sample[assign == c]
            if len(members):
                m = members.mean(axis=0)
                norm = np.linalg.norm(m)
                if norm > 0:
                    cents[c] = m / norm
    return cents


def _ann_train_centroids(emb: DataFrame, nlist: int) -> np.ndarray:
    """Centroid training, the FAISS recipe: a deterministic ~50%
    hash-gated sample (not ``.sample()`` — partitioning-independent),
    capped at 4096 driver-side rows, then :func:`_lloyd_spherical`.
    A degenerate corpus with fewer training rows than ``nlist``
    trains that many centroids instead of silently training short
    ones — callers read the effective nlist as ``len(centroids)``."""
    train = (
        emb.filter(F.pmod(F.xxhash64(F.col("vec_id")), F.lit(2)) == 0)
        .orderBy("vec_id").limit(4096).collect()
    )
    sample = np.stack([np.array(r["emb"]) for r in train])
    return _lloyd_spherical(sample, min(nlist, max(1, len(sample))), iters=10)


def _ann_assign(df: DataFrame, centroids: "np.ndarray", m: int) -> DataFrame:
    """Assign each (vec_id, emb) row to its top-m centroid cells —
    ONE Arrow-batched corpus pass, shared by the initial index build
    and the incremental refresh (the refresh MUST use the identical
    assignment rule or appended vectors land in cells the probe math
    won't look in)."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast((centroids, m))

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cents, m_a = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["emb"].to_numpy()).astype(np.float64)
            ids = pdf["vec_id"].to_numpy()
            top_m = np.argsort(-(x @ cents.T), axis=1)[:, :m_a]
            reps = np.repeat(np.arange(len(pdf)), m_a)
            yield pd.DataFrame(
                {
                    "cell": top_m.reshape(-1).astype("int32"),
                    "vec_id": np.repeat(ids, m_a),
                    "emb": [x[i] for i in reps],
                }
            )

    return df.mapInPandas(assign, schema="cell int, vec_id long, emb array<double>")


def _ann_geometry_hash(centroids: "np.ndarray") -> str:
    """Deterministic fingerprint of the centroid matrix: any drift
    between the meta stamp and the centroid table (partial rewrite,
    mixed-version dirs) breaks the serve-path check."""
    import hashlib

    return hashlib.sha256(
        np.ascontiguousarray(np.round(centroids, 12), dtype=np.float64).tobytes()
    ).hexdigest()


# ---------------------------------------------------------------------------
# durability
# ---------------------------------------------------------------------------

#: fsync errnos that mean "this filesystem cannot fsync", not "the
#: write failed": EINVAL/ENOTSUP(=EOPNOTSUPP on Linux) from pipes,
#: some FUSE mounts, and pre-ext4 tmpfs quirks.  Everything ELSE —
#: above all EIO, a genuine write-back failure — must PROPAGATE: post
#: fsyncgate, Linux clears the error state after reporting it once,
#: so swallowing EIO here and committing anyway would commit to a
#: generation the kernel just said it could not persist (the exact
#: no-servable-index scenario the fence exists to prevent).
_FSYNC_UNSUPPORTED = tuple(
    {
        getattr(errno, name)
        for name in ("EINVAL", "ENOTSUP", "EOPNOTSUPP")
        if hasattr(errno, name)
    }
)


def _fsync_path(path: str) -> None:
    """fsync one file or directory, swallowing ONLY the
    fsync-unsupported errnos (non-fsyncable FUSE mounts — there the
    durability claim degrades to process-crash safety).  A real I/O
    failure (EIO) raises, so every caller aborts BEFORE its commit
    point and the previous layout stays live.  The one fsync policy of
    the store: the tree fence, the small-table writes and the
    manifest's directory sync all go through here."""
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    except OSError as ex:
        if ex.errno not in _FSYNC_UNSUPPORTED:
            raise
    finally:
        os.close(fd)


def _fsync_tree(path: str) -> None:
    """fsync every file AND directory under ``path`` (depth-first,
    directories after their contents), THEN the parent directory, so
    the tree's own directory ENTRY is durable too.  Called on a new
    postings generation/segment BEFORE the manifest commit: without
    the tree syncs, a power loss after the commit could persist the
    manifest (its own write is fsynced) while the new data pages are
    still unwritten; without the parent sync, the manifest could
    persist while the generation dir's ENTRY in the root is still
    unwritten (round-13 advisory) — either way the manifest would name
    a torn/vanished dir after the old generation is GC'd.  Process
    crashes never reorder this way (the page cache survives them);
    only power/kernel loss does."""
    for dirpath, _dirs, files in os.walk(path, topdown=False):
        for name in files:
            _fsync_path(os.path.join(dirpath, name))
        _fsync_path(dirpath)
    _fsync_path(os.path.dirname(os.path.abspath(path)))


# ---------------------------------------------------------------------------
# the manifest: the one commit point of every postings state change
# ---------------------------------------------------------------------------


class AnnConcurrentWriterError(RuntimeError):
    """A second writer committed to the ANN manifest between this
    writer's layout read and its commit.  The ANN store is
    single-writer by contract; this fence turns a contract violation
    into a loud failure at the COMMIT POINT (the loser's segment or
    generation dir stays an invisible orphan, GC'd by the next
    compact/build) instead of letting interleaved commits silently
    drop the other writer's manifest lines — which would orphan
    committed corpus data while the derived stamp still counted it
    (permanent guarded-serve failure)."""


#: manifest file naming the LIVE postings layout: the base generation
#: directory plus the ordered live APPEND SEGMENTS (round-14, per the
#: round-13 design note — segments replace in-place appends, removing
#: the last fails-closed crash window in the lifecycle).  Every state
#: change — compaction swap, segment append — commits by atomically
#: replacing this one small file (``os.replace`` — atomic for files on
#: the same POSIX filesystem), never by renaming postings directories
#: themselves: a directory cannot be atomically renamed OVER a
#: non-empty directory, so any dir-rename dance has a crash window
#: with no readable index (the round-11 finding).
#:
#: Format, one entry per line: ``<dirname> [<n_delta> <fp_delta>]`` —
#: line 1 is the base generation (its delta: corpus rows folded IN by
#: compactions beyond the meta stamp), lines 2+ are live segments
#: (their deltas: the appended slice's corpus fingerprint).  The
#: effective corpus stamp is DERIVED — meta stamp + Σ manifest
#: deltas — so no restamp write exists to tear.  A bare name (no
#: delta fields) reads as delta 0, which keeps every pre-segment
#: pointer file (and the base-layout no-file case ⇒ ``postings``,
#: no segments) reading unchanged.
_ANN_GEN_POINTER = "POSTINGS_GEN"

#: default manifest when the file is absent or unparseable: the base
#: build layout.  (gen_name, gen_n, gen_fp, segments) with segments =
#: [(seg_name, n_delta, fp_delta), ...].
_ANN_MANIFEST_BASE = ("postings", 0, 0, ())


def _ann_manifest_read(root: str) -> tuple[str, int, int, tuple]:
    """Parse the manifest under ``root``.  Defensive by contract: an
    absent file, a torn/garbage line, or non-integer delta fields all
    resolve to the base layout (``postings``, no segments) — the same
    fallback chain the pre-segment pointer had, where the serve path's
    existence check then fails loud with the rebuild route if base is
    gone too.  Names are basename()-d AND rejected when "." / ".."
    (which basename passes through — ".." would resolve to root's
    parent) so a garbage pointer can never escape ``root``."""
    try:
        with open(os.path.join(root, _ANN_GEN_POINTER)) as f:
            lines = [ln.strip() for ln in f.read().splitlines() if ln.strip()]
    except (OSError, UnicodeDecodeError):
        # UnicodeDecodeError (round-16, found by the parser fuzz
        # test): a TORN write can leave partial multi-byte sequences —
        # garbage content must fall back to the base layout like every
        # other unparseable state, not crash the serve path
        return _ANN_MANIFEST_BASE
    if not lines:
        return _ANN_MANIFEST_BASE
    parsed = []
    for ln in lines:
        fields = ln.split()
        name = os.path.basename(fields[0])
        if not name or name in (".", ".."):
            # round-17 (ADVICE): basename("..") == ".." — a garbage
            # line of ".." survived the empty check and resolved the
            # layout to root's PARENT (an always-existing dir), the
            # exact escape the basename() contract claims to prevent.
            # "." (resolving to root itself) is rejected for the same
            # reason: no legitimate commit ever writes either.
            return _ANN_MANIFEST_BASE
        if len(fields) == 1:
            parsed.append((name, 0, 0))
        elif len(fields) == 3:
            try:
                parsed.append((name, int(fields[1]), int(fields[2])))
            except ValueError:
                return _ANN_MANIFEST_BASE
        else:
            return _ANN_MANIFEST_BASE
    gen_name, gen_n, gen_fp = parsed[0]
    return gen_name, gen_n, gen_fp, tuple(parsed[1:])


@contextlib.contextmanager
def _ann_commit_lock(root: str):
    """Exclusive ``flock`` on the manifest's sidecar lock file — THE
    mutual-exclusion point of every manifest mutation (fenced and
    unconditional commits, and GC's manifest/tmp cleanup).  One
    definition so every holder locks the same inode; the lock file
    itself is never removed (see :func:`_ann_gc`: unlinking it would
    strand a current holder on a dead inode and silently void the
    exclusion for the next writer).  Readers never take it — the
    atomic manifest replace already serves them."""
    import fcntl

    lfd = os.open(
        os.path.join(root, _ANN_GEN_POINTER + ".lock"),
        os.O_RDWR | os.O_CREAT,
        0o644,
    )
    try:
        fcntl.flock(lfd, fcntl.LOCK_EX)
        yield
    finally:
        os.close(lfd)  # closing the fd releases the flock


def _ann_manifest_commit(
    root: str,
    gen: tuple[str, int, int],
    segs: tuple | list,
    expected: tuple | None = None,
) -> None:
    """THE commit point of every postings state change: fsync a temp
    manifest file, then ``os.replace`` it over the live one — readers
    see either the old layout or the new one, never neither.  The
    containing DIRECTORY is fsynced after the replace: without it, a
    power loss can persist a superseded generation's deletion (the
    compaction caller GCs right after this returns) while the rename's
    directory entry is still unwritten — the manifest would then name
    a vanished dir and fall back to a base layout an earlier
    compaction already removed (no servable index).  Process crashes
    never reorder this way; only power/kernel loss does, and the dir
    fsync closes exactly that window.  On a non-fsyncable fs the dir
    sync degrades to process-crash safety; a REAL I/O failure (EIO)
    raises instead — the caller then skips the superseded-generation
    GC, so even if the rename's directory entry never persists, the
    old generation is still on disk and resolvable.

    ``expected`` (round-15 writer fence): the manifest snapshot the
    caller's mutation STARTED from.  When given, the commit re-reads
    the live manifest under an exclusive ``flock`` on a sidecar lock
    file and raises :class:`AnnConcurrentWriterError` if it no longer
    matches — a compare-and-swap, so two interleaved writers cannot
    both commit layouts derived from the same snapshot (the loser's
    already-written dir stays an invisible orphan).  The lock spans
    check + replace, closing the check-then-replace race between
    fenced writers on the same filesystem; readers never take it (the
    atomic replace already serves them).  ``None`` = unconditional
    (fresh builds and the crash-walk entry point supersede every
    prior layout by design) — but round-16 (ADVICE): unconditional
    commits take the SAME flock.  The fence's safety story had a
    hole otherwise: an unconditional writer racing a fenced one
    skipped the lock, and both shared one tmp path (manifest +
    '.tmp'), so their truncate/write could interleave on the same
    inode and the ``os.replace`` install a mixed manifest (defensive
    parsing degrades that to the base-layout fallback — wrong layout,
    not corruption, but still wrong).  Closed twice over: every
    commit serializes under the flock, AND each commit writes its
    own ``mkstemp``-unique tmp, so even a writer that somehow isn't
    holding the lock (an older binary, an external tool) cannot
    share a tmp inode.  The unique tmp is unlinked on any failure
    past its creation; torn tmps from a crashed process are swept by
    :func:`_ann_gc`."""
    import tempfile

    lines = [f"{gen[0]} {gen[1]} {gen[2]}"]
    lines += [f"{name} {n} {fp}" for name, n, fp in segs]

    with _ann_commit_lock(root):
        if expected is not None:
            live = _ann_manifest_read(root)
            if live != tuple(expected):
                raise AnnConcurrentWriterError(
                    "ANN manifest changed between this writer's layout "
                    f"read and its commit (read {tuple(expected)!r}, live "
                    f"{live!r}) — a concurrent writer committed first; the "
                    "ANN store is single-writer by contract.  This commit "
                    "was NOT applied; re-run the append/compaction from a "
                    "fresh layout read."
                )
        # fence check precedes tmp creation: a rejected commit leaves
        # zero litter.  mkstemp AFTER the check, unique per commit.
        tfd, tmp = tempfile.mkstemp(
            dir=root, prefix=_ANN_GEN_POINTER + ".tmp."
        )
        try:
            with os.fdopen(tfd, "w") as f:
                # mkstemp creates 0600; the replace would narrow the
                # LIVE manifest to owner-only and a co-reader process
                # under another uid would hit PermissionError — which
                # _ann_manifest_read's defensive except degrades to
                # the BASE layout, silently dropping every committed
                # segment.  Restore the pre-mkstemp world-readable
                # mode before the replace.  Inside the try (round-17
                # ADVICE): a failing fchmod must release the fd (the
                # enclosing ``with``) and unlink the tmp (the except
                # below) like every other post-creation failure.
                os.fchmod(f.fileno(), 0o644)
                f.write("\n".join(lines) + "\n")
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, os.path.join(root, _ANN_GEN_POINTER))
        except BaseException:
            with contextlib.suppress(OSError):
                os.remove(tmp)
            raise
    _fsync_path(root)


# ---------------------------------------------------------------------------
# layout: where the live postings are, claiming new dirs, reading, GC
# ---------------------------------------------------------------------------


def _ann_root(sf_dir: str, suffix: str = "") -> str:
    """Scratch root of the persisted index for this (sf tag, suffix).
    ``suffix`` namespaces variant indexes so they never shadow the
    default one."""
    from pyspark_caffe_spark.queries.relational import _scratch

    tag = (os.path.basename(sf_dir.rstrip("/")) or "sf") + suffix
    return _scratch(f"ann_index_{tag}")


def _ann_base_path(root: str, manifest: tuple) -> str:
    """THE layout resolver: the base-generation dir a parsed
    ``manifest`` names, falling back to ``postings`` when that dir has
    vanished (manual deletion) — where the serve path's existence
    check then fails loud with the rebuild route if base is gone too.
    Every consumer of a manifest SNAPSHOT derives its base dir here,
    so none can resolve the same snapshot differently."""
    cand = os.path.join(root, manifest[0])
    if os.path.isdir(cand):
        return cand
    return os.path.join(root, "postings")


def _ann_index_paths(sf_dir: str, suffix: str = "") -> tuple[str, str, str]:
    """``(centroids, live base postings, meta)`` paths of the index
    for this (sf tag, suffix), the base resolved from the current
    manifest."""
    root = _ann_root(sf_dir, suffix)
    return (
        os.path.join(root, "centroids"),
        _ann_base_path(root, _ann_manifest_read(root)),
        os.path.join(root, "meta"),
    )


def _ann_live_paths(
    root: str, manifest: tuple | None = None, require_base: bool = False
) -> list[str]:
    """Every live postings dir under ``root`` in manifest order: the
    base generation (resolved by :func:`_ann_base_path`) plus the
    append segments.  ``require_base=True`` (the compaction path,
    round-15 per the round-14 advisory) refuses the base fallback: a
    compaction that silently folded the stale ``postings`` fallback
    while carrying the manifest's folded deltas forward would commit a
    derived stamp describing content the rewrite does not hold, so
    there a manifest naming a vanished base generation raises
    FileNotFoundError (rebuild route), mirroring the vanished-segment
    contract below.  A manifest naming a VANISHED SEGMENT always
    raises FileNotFoundError with the rebuild route — a committed
    segment is part of the corpus, so silently serving without it
    would drop appended vectors (fails loud, the reuse gates route it
    to rebuild).  Callers that already parsed the manifest pass it
    through, so one serve observes ONE layout snapshot rather than
    re-reading mutable state per helper."""
    manifest = manifest or _ann_manifest_read(root)
    if require_base and not os.path.isdir(os.path.join(root, manifest[0])):
        raise FileNotFoundError(
            f"ANN base generation {manifest[0]!r} named by the manifest is "
            "missing on disk — compacting the stale 'postings' fallback "
            "would commit a stamp the rewritten content does not match; "
            "rebuild via sink_ann_index/_build_ann_index"
        )
    paths = [_ann_base_path(root, manifest)]
    for seg_name, _sn, _sfp in manifest[3]:
        seg = os.path.join(root, seg_name)
        if not os.path.isdir(seg):
            raise FileNotFoundError(
                f"ANN index append segment {seg_name!r} named by the "
                "manifest is missing on disk — rebuild via "
                "sink_ann_index/_build_ann_index"
            )
        paths.append(seg)
    return paths


def _ann_max_dir_num(names: list[str], prefix: str) -> int:
    """Highest ``<prefix><N>`` number among ``names`` (0 when none) —
    the orphan-collision rule shared by the compaction swap
    (``postings_gen``) and the segment append (``postings_seg``): new
    dirs number past everything on disk (``os.listdir(root)``, crash
    orphans included) and, for segments, past everything the manifest
    names, so neither a crash orphan nor a manually deleted committed
    segment can collide with the next write."""
    nums = [
        int(n[len(prefix):])
        for n in names
        if n.startswith(prefix) and n[len(prefix):].isdigit()
    ]
    return max(nums, default=0)


def _ann_claim_dir(root: str, prefix: str, start_num: int) -> tuple[str, str]:
    """Atomically claim a fresh ``<prefix><N>`` dir (N ≥ start_num):
    ``os.mkdir`` succeeds for exactly one claimant per name, so two
    concurrent writers that computed the same next number from the
    same disk scan get DISTINCT dirs instead of clobbering each
    other's parquet writes (round-16 — the manifest fence rejects the
    loser's COMMIT, but only the claim keeps the winner's committed
    dir untorn by the loser's concurrent write).  Callers write into
    the claimed empty dir with mode("append"), never "overwrite"
    (overwrite deletes + recreates the dir, voiding the claim for the
    duration of the scan window).  A crashed claimant leaves an empty
    orphan dir: invisible (no manifest line names it), numbered past
    by later writers, GC'd by the next compact/build."""
    num = start_num
    while True:
        name = f"{prefix}{num}"
        path = os.path.join(root, name)
        try:
            os.mkdir(path)
            return name, path
        except FileExistsError:
            num += 1


def _ann_read_postings(spark: SparkSession, paths: list[str]) -> DataFrame:
    """One DataFrame over the live postings layout: a flat UNION of
    the per-leg partition-discovered parquet scans.  Explicit unions
    (not one multi-path read) because the legs are sibling partition
    roots — Spark's multi-root discovery rejects that layout
    (CONFLICTING_DIRECTORY_STRUCTURES) — and a union keeps every leg's
    own partition pruning: a ``cell`` filter above the union pushes
    into each scan, so nprobe-bounded reads stay corpus-sublinear.
    K legs bounded by compaction cadence."""
    from functools import reduce

    return reduce(
        DataFrame.unionByName, [spark.read.parquet(p) for p in paths]
    )


def _ann_gc(root: str, keep: set[str]) -> None:
    """Remove every store-managed name under ``root`` not in ``keep``:
    first, UNDER the commit lock, the manifest and any mkstemp tmps
    left by crashed commits (their writers are gone — every live
    commit writes under the lock we hold, so a live commit's tmp is
    never unlinked mid-write); then the ``postings`` /
    ``postings_gen*`` / ``postings_seg*`` dirs — superseded
    generations, folded segments and crash orphans.

    The manifest goes FIRST so a crash mid-cleanup resolves to a
    layout that still exists.  The ``.lock`` sidecar is never
    removed (round-16 ADVICE): it is inert and zero-length, and
    unlinking it voids the fence — a writer already holding the flock
    keeps the unlinked inode, so the next writer would lock a FRESH
    inode and the two no longer mutually exclude."""
    import shutil

    with _ann_commit_lock(root):
        files = [_ANN_GEN_POINTER] + sorted(
            n for n in os.listdir(root) if n.startswith(_ANN_GEN_POINTER + ".tmp")
        )
        for name in files:
            if name not in keep:
                with contextlib.suppress(OSError):
                    os.remove(os.path.join(root, name))
    for name in os.listdir(root):
        if name not in keep and (
            name == "postings" or name.startswith(("postings_gen", "postings_seg"))
        ):
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)


def _ann_reset_generations(root: str) -> None:
    """A fresh build supersedes every compaction generation and append
    segment: GC everything but the base ``postings`` dir the build is
    about to overwrite — the manifest (first), torn commit tmps, and
    every ``postings_gen*`` / ``postings_seg*`` dir.  A crash inside
    the subsequent build leaves no valid index, which the serve path
    reports loud with the rebuild route — the same contract the
    in-place overwrite build always had."""
    if os.path.isdir(root):
        _ann_gc(root, keep={"postings"})


# ---------------------------------------------------------------------------
# the corpus stamp and the identity aggregate
# ---------------------------------------------------------------------------


def _ann_fold(manifest: tuple) -> tuple[int, int]:
    """THE stamp fold: the corpus delta a manifest carries beyond the
    meta stamp — the base generation's folded-in delta plus every live
    segment's, as ``(n, fp)``.  Compaction commits exactly this sum
    onto its new generation line, so the derived stamp never wavers."""
    _name, gen_n, gen_fp, segs = manifest
    return gen_n + sum(s[1] for s in segs), gen_fp + sum(s[2] for s in segs)


def _ann_effective_stamp(
    root: str, meta, manifest: tuple | None = None
) -> tuple[int, str, tuple]:
    """The corpus stamp the live index ACTUALLY describes: the meta
    stamp (written once at build time, never rewritten by appends)
    plus the manifest's :func:`_ann_fold`.  Both fingerprint halves
    are additive by construction ((count, Σ xxhash64(vec_id))), so
    the derivation is exact.  Returns (corpus_n, corpus_fp, manifest)
    where manifest is the parsed tuple — callers key the validation
    cache on it."""
    manifest = manifest or _ann_manifest_read(root)
    d_n, d_fp = _ann_fold(manifest)
    n = int(meta["corpus_n"]) + d_n
    return n, str(int(meta["corpus_fp"]) + d_fp), manifest


def _ann_identity_exprs(hash_col: Column) -> tuple[Column, Column]:
    """THE identity aggregate: ``(count AS n, coalesce(Σ hash_col, 0)
    AS h)`` over a decimal(38,0) hash column.  One builder for the
    corpus fingerprint (hash = xxhash64(vec_id)) and the compaction
    identity proof (hash = the per-posting row hash), on every side
    that computes them — observe folds, direct scans, the after-audit
    — so no writer and validator pair can fork the recipe."""
    return (
        F.count("*").alias("n"),
        F.coalesce(F.sum(hash_col), F.lit(0).cast("decimal(38,0)")).alias("h"),
    )


def _ann_fp_exprs() -> tuple[Column, Column]:
    """The corpus-fingerprint aggregate pair — (row count, decimal sum
    of xxhash64(vec_id)) — shared by the direct scan
    (:func:`_ann_corpus_fingerprint`, the reuse-path guard) and the
    observe-folded variants (build/append stamp their fingerprint on
    the SAME pass that writes the postings — round 18)."""
    return _ann_identity_exprs(F.xxhash64("vec_id").cast("decimal(38,0)"))


def _ann_corpus_fingerprint(emb: DataFrame) -> tuple[int, str]:
    """(row count, decimal sum of xxhash64(vec_id)) over the indexed
    corpus — ONE scan of the thin vec_id column.  Stamped into meta at
    build time so a reuse-path serve can detect that the dataset under
    the same sf tag was REGENERATED or swapped since the index was
    built (the geometry hash alone validates centroids, not corpus:
    a stale-corpus index would otherwise serve vec_ids that no longer
    exist)."""
    row = emb.agg(*_ann_fp_exprs()).collect()[0]
    return int(row["n"]), str(row["h"])


def _ann_posting_row_hash() -> Column:
    """The per-posting content-hash term of the compaction identity
    proof — ONE definition shared by the before-snapshot (observe on
    the rewrite's own read, round 18) and the after-audit aggregate,
    so the two sides of ``content_identical`` can never diverge."""
    return F.xxhash64("cell", "vec_id", "emb").cast("decimal(38,0)")


# ---------------------------------------------------------------------------
# the tiny routing artifacts: meta stamp and centroids
# ---------------------------------------------------------------------------


def _ann_read_small_table(path: str):
    """Driver-local pyarrow read of a TINY index artifact — the one-row
    meta stamp or the nlist-row centroid table (nlist is a build-time
    constant, never corpus-sized, so a driver-local read is the right
    design at every scale: FAISS likewise holds centroids in memory).
    Replaces a full Spark job (scan + collect) per artifact per verb —
    at sf0.1 each such job costs ~0.1-0.2 s of pure scheduling, and at
    100 TB the serve path's latency floor should not include two
    cluster round trips for <1 KB of metadata (round 18, guide §1.2).

    Error contract preserved from the Spark-read version: an absent
    path raises FileNotFoundError; ANY torn/garbage content raises
    ValueError — both already in every reuse gate's caught tuple, so
    the rebuild routes are unchanged (the Spark reads raised
    AnalysisException/Py4JJavaError shapes that the gates matched via
    _is_artifact_read_failure; pyarrow failures are artifact-shaped by
    construction here because the inputs are local index files)."""
    import pyarrow.parquet as pq

    try:
        return pq.read_table(path)
    except (FileNotFoundError, MemoryError):
        raise
    except Exception as ex:  # ArrowInvalid, OSError subclasses, ...
        raise ValueError(
            f"unreadable ANN index artifact at {path} "
            f"({type(ex).__name__}: {ex}) — torn or non-parquet content; "
            "rebuild via sink_ann_index/_build_ann_index"
        ) from ex


def _ann_read_meta(mpath: str) -> dict:
    """The one-row meta stamp as a plain dict (same key access pattern
    as the Spark Row it replaces).  A meta with any other row count is
    torn/corrupt and routes to rebuild (the old collect()[0] silently
    took the first row of a multi-row meta — fails closed now)."""
    rows = _ann_read_small_table(mpath).to_pylist()
    if len(rows) != 1:
        raise ValueError(
            f"ANN meta at {mpath} holds {len(rows)} rows (exactly 1 "
            "expected) — torn or mixed-version stamp; rebuild via "
            "sink_ann_index/_build_ann_index"
        )
    return rows[0]


def _ann_read_centroids(cpath: str) -> "np.ndarray":
    """The centroid matrix, rows ordered by cell id — driver-local
    pyarrow read (see :func:`_ann_read_small_table` for why and for
    the error contract)."""
    tbl = _ann_read_small_table(cpath)
    try:
        cells = tbl.column("cell").to_numpy()
        vecs = tbl.column("centroid").to_pylist()
    except KeyError as ex:
        raise ValueError(
            f"ANN centroids at {cpath} missing expected columns "
            "(cell, centroid) — mixed-version index; rebuild via "
            "sink_ann_index/_build_ann_index"
        ) from ex
    if len(vecs) == 0:
        raise ValueError(
            f"ANN centroids at {cpath} is empty — torn write; rebuild "
            "via sink_ann_index/_build_ann_index"
        )
    order = np.argsort(cells)
    return np.stack([np.asarray(vecs[i], dtype=np.float64) for i in order])


def _ann_write_small_table(path: str, table) -> None:
    """Driver-local pyarrow write of a TINY index artifact (the
    one-row meta stamp, the nlist-row centroids) with Spark
    ``mode("overwrite")`` directory semantics: remove the old dataset
    dir, recreate it, write one ``part-00000.parquet`` data file.
    Replaces a full Spark write job per artifact — createDataFrame +
    FileFormatWriter costs ~0.3-0.6 s of pure scheduling/commit per
    one-row table at sf0.1 (round-18 phase profile), and these tables
    are O(1)/O(nlist) rows at EVERY corpus scale, so a driver-local
    write is the right design at 100 TB too.  Crash contract is
    unchanged from the Spark write: a tear mid-overwrite leaves an
    absent or garbage artifact, which every gate routes to rebuild
    (FileNotFoundError/ValueError).  Spark reads the produced dir
    exactly as one it wrote (tests read meta/centroids with
    spark.read.parquet); the data file is fsynced so the later
    fsync-free manifest/commit ordering arguments keep holding."""
    import shutil

    import pyarrow.parquet as pq

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    fpath = os.path.join(path, "part-00000.parquet")
    pq.write_table(table, fpath)
    _fsync_path(fpath)


# ---------------------------------------------------------------------------
# open, validate, and the reuse-or-rebuild gate
# ---------------------------------------------------------------------------


def _path_sig(path: str) -> tuple | None:
    """Cheap filesystem identity of a parquet file/dir: (relpath,
    size, mtime_ns, inode) per file, RECURSIVE — an O(#files) stat
    walk, no data read.  Any rewrite, append, or dataset regeneration
    changes it, including one confined to a partition subdirectory.
    The inode is included because some network/FUSE mounts truncate
    mtime to whole seconds: an in-place regeneration producing
    same-named same-sized files within one timestamp tick would
    otherwise collide, and new files virtually always get new inodes
    (round-11 advice).  Residual risk — same tick AND recycled inode
    AND identical size — is accepted for local scratch dirs.  The
    converse risk is perf-only, never correctness: on overlayfs
    (copy-up migrates a file to the upper layer with a new inode) or a
    backup-restored filesystem, st_ino can change under IDENTICAL
    content, which merely invalidates the validation cache and re-runs
    the corpus fingerprint scan — extra validation, never a missed
    drift.

    Returns ``None`` when the path is not statable by the local os
    module (absent, or a non-filesystem URI like an object-store
    path): the caller must treat None as "identity unknown" and skip
    CACHING, never as a stable signature — a constant sentinel here
    would make the dataset-generation half of the validation cache
    key inert and let a regenerated corpus serve from cache (round-11
    review finding)."""
    if not os.path.exists(path):
        return None
    if os.path.isdir(path):
        entries = []
        for root, dirs, files in os.walk(path):
            dirs.sort()
            rel = os.path.relpath(root, path)
            for name in sorted(files):
                try:
                    st = os.stat(os.path.join(root, name))
                    entries.append(
                        (os.path.join(rel, name), st.st_size, st.st_mtime_ns, st.st_ino)
                    )
                except OSError:
                    entries.append((os.path.join(rel, name), -1, -1, -1))
        return ("dir", tuple(entries))
    st = os.stat(path)
    return ("file", st.st_size, st.st_mtime_ns, st.st_ino)


#: successful corpus-fingerprint validations, keyed by (meta path, meta
#: dir signature, embeddings source signature, stamp fields).  A serve
#: against an UNCHANGED (index, dataset) pair skips the O(corpus)
#: vec_id fingerprint scan (round-10 verdict #4: the guard is
#: correctness-critical on first contact with an index generation, but
#: re-scanning the corpus on EVERY serve contradicted the
#: corpus-sublinear serve contract).  The key embeds the stat
#: signature of BOTH the meta dir and the embeddings source, so a
#: rebuilt index OR a regenerated dataset is a cache miss and gets the
#: full scan + refusal path — the cache only ever skips work that
#: would re-prove an already-proven pair.
_ANN_VALIDATED: dict[tuple, bool] = {}


def _ann_check_geometry(cpath: str, meta) -> "np.ndarray":
    """Centroids-vs-stamp consistency check: read the (nlist tiny
    rows) centroid table — driver-local, see
    :func:`_ann_read_small_table` — and raise ValueError — with the
    rebuild route — if it does not match the meta stamp (a crash
    remnant where the build overwrote centroids but not yet
    postings/meta, or any other mixed-version dir).  Returns the
    validated centroid matrix."""
    centroids = _ann_read_centroids(cpath)
    if (
        len(centroids) != meta["nlist"]
        or centroids.shape[1] != meta["dim"]
        or _ann_geometry_hash(centroids) != meta["geometry_hash"]
        or meta["m"] != min(_ANN_M, meta["nlist"])
    ):
        raise ValueError(
            "ANN index geometry drift: the centroids table does not match "
            f"the meta stamp (nlist={meta['nlist']}, dim={meta['dim']}, "
            f"m={meta['m']}) — mixed-version or partially rewritten index; "
            "rebuild via sink_ann_index/_build_ann_index"
        )
    return centroids


def _ann_open(root: str, manifest: tuple) -> tuple[dict, "np.ndarray"]:
    """Open and validate the index under ``root`` as of one parsed
    ``manifest`` snapshot: the artifacts exist (centroids, meta, and
    the base postings dir :func:`_ann_base_path` resolves), the meta
    stamp carries this code's ``_ANN_WRITER_VERSION``, and the
    centroids match the stamp's geometry.  Returns ``(meta,
    centroids)``.  Raises FileNotFoundError / ValueError with the
    rebuild route — exactly the failures :func:`_ann_reuse_or_rebuild`
    routes to a rebuild.  Shared by the serve path and the
    compaction verb's reuse gate."""
    cpath = os.path.join(root, "centroids")
    mpath = os.path.join(root, "meta")
    ppath = _ann_base_path(root, manifest)
    if not (os.path.isdir(cpath) and os.path.isdir(ppath) and os.path.isdir(mpath)):
        raise FileNotFoundError(
            "ANN index not built (or missing its version-stamp meta table) "
            "— run sink_ann_index/_build_ann_index first"
        )
    meta = _ann_read_meta(mpath)
    if meta["writer_version"] != _ANN_WRITER_VERSION:
        raise ValueError(
            f"ANN index was written by writer_version={meta['writer_version']} "
            f"but this code serves version={_ANN_WRITER_VERSION}: a scratch "
            "dir survived a code upgrade — rebuild via sink_ann_index/"
            "_build_ann_index before serving"
        )
    return meta, _ann_check_geometry(cpath, meta)


def _ann_validate_corpus(
    sf_dir: str, mpath: str, meta, emb: DataFrame, manifest: tuple | None = None
) -> None:
    """Reuse-path corpus guard, shared by the serve path and the
    maintenance verbs: geometry validation alone cannot tell that the
    DATASET under this sf tag was regenerated/swapped since the index
    was built — recompute the corpus fingerprint (one column-pruned
    scan of vec_id, corpus-thin by design) and compare to the
    EFFECTIVE stamp (meta + manifest deltas — appends commit their
    fingerprint delta through the manifest, never by rewriting meta);
    raise ValueError (with the rebuild route) on drift.  The scan is
    cached per (index generation, dataset generation): repeated calls
    on an unchanged pair skip it (the steady-state serve is then
    guard-free), while any meta rewrite, MANIFEST COMMIT (append — the
    cache key embeds the parsed manifest, round-13 design note), or
    dataset regeneration forces a fresh scan.  Pure compactions fold
    deltas without changing their sum; the resulting cache miss re-runs
    one thin scan, never a wrong acceptance.  The manifest enters the
    key by parsed CONTENT, not stat signature: content is exactly what
    the derived stamp depends on, and it keeps an absent manifest
    (fresh build) cacheable."""
    root = os.path.dirname(mpath)
    eff_n, eff_fp, manifest = _ann_effective_stamp(root, meta, manifest)
    meta_sig = _path_sig(mpath)
    emb_sig = _path_sig(f"{sf_dir}/embeddings.parquet")
    cache_key = (
        mpath,
        meta_sig,
        emb_sig,
        manifest,
        int(meta["writer_version"]),
        meta["geometry_hash"],
        eff_n,
        eff_fp,
    )
    # a None signature means the local os module cannot establish
    # the artifact's identity (object-store URI, vanished path):
    # the guard then runs on EVERY call — cache only provable
    # identities, never a degraded sentinel
    cacheable = meta_sig is not None and emb_sig is not None
    if not (cacheable and _ANN_VALIDATED.get(cache_key)):
        cur_n, cur_fp = _ann_corpus_fingerprint(emb)
        if cur_n != eff_n or cur_fp != eff_fp:
            raise ValueError(
                "ANN index corpus drift: the embeddings table "
                f"(n={cur_n}) no longer matches the corpus the index "
                f"describes (n={eff_n}) — the dataset was regenerated "
                "or swapped under the same tag; rebuild via "
                "sink_ann_index/_build_ann_index"
            )
        if cacheable:
            if len(_ANN_VALIDATED) > 64:  # bounded: stale keys dangle
                _ANN_VALIDATED.clear()
            _ANN_VALIDATED[cache_key] = True


def _ann_reuse_or_rebuild(reuse: Callable[[], T], rebuild: Callable[[], T]) -> T:
    """THE reuse gate of the amortized verbs: return ``reuse()``, or —
    when it fails because a persisted artifact is absent, stale,
    drifted, or torn — ``rebuild()``.  FileNotFoundError/ValueError
    (the validators' own refusals and the driver-local artifact reads)
    always route to rebuild.  A Spark read error (_SPARK_READ_ERRORS:
    a TORN parquet surfaces as AnalysisException/Py4JJavaError, the
    round-12 advisory finding) routes only when
    :func:`_is_artifact_read_failure` says it is artifact-shaped: a
    transient JVM error (executor OOM, disk-full) must propagate, not
    trigger a silent rebuild that masks it and turns a pure-serve
    product metric into serve+build.  Failures of ``rebuild()`` itself
    propagate: only ``reuse()`` is gated."""
    try:
        return reuse()
    except (FileNotFoundError, ValueError) + _SPARK_READ_ERRORS as ex:
        if not isinstance(
            ex, (FileNotFoundError, ValueError)
        ) and not _is_artifact_read_failure(ex):
            raise
    return rebuild()


# ---------------------------------------------------------------------------
# build, append, compact
# ---------------------------------------------------------------------------


def _build_ann_index(
    spark: SparkSession,
    sf_dir: str,
    corpus_filter: Column | None = None,
    suffix: str = "",
) -> tuple[int, int, str, str]:
    """Build and PERSIST the IVF index: a centroids table (nlist tiny
    rows) and a postings table — every corpus vector stored under its
    top-m cells — written ``partitionBy("cell")`` so a probe is a
    PARTITION-PRUNED scan of nprobe directories, not a corpus scan.

    The build is one bounded driver-side Lloyd (≤4096-row hash sample,
    the FAISS recipe) plus ONE corpus pass for assignment; the m×
    postings blow-up is the standard IVF storage trade (FAISS stores
    vectors inside the inverted lists for the same reason: the serve
    path then never touches the base table).  ``corpus_filter``
    restricts the indexed corpus (sim_knn_ivf_refresh builds its base
    index without the delta slice); ``suffix`` namespaces the on-disk
    index so variant indexes never shadow the default one.  Returns
    ``(nlist, m, centroids_path, postings_path)``."""
    emb = _ann_embeddings(spark, sf_dir)
    if corpus_filter is not None:
        emb = emb.filter(corpus_filter)
    centroids = _ann_train_centroids(emb, _ANN_NLIST)
    nlist = len(centroids)
    m = min(_ANN_M, nlist)
    # a build starts a new index: retire every compaction generation
    # and write the base layout (resolution after the reset is always
    # root/postings)
    root = _ann_root(sf_dir, suffix)
    _ann_reset_generations(root)
    cpath = os.path.join(root, "centroids")
    ppath = os.path.join(root, "postings")
    # driver-local centroid write (nlist tiny rows — see
    # _ann_write_small_table for why; same "cell int, centroid
    # array<double>" schema the Spark write produced)
    import pyarrow as pa

    _ann_write_small_table(
        cpath,
        pa.table(
            {
                "cell": pa.array(list(range(nlist)), pa.int32()),
                "centroid": pa.array(
                    [centroids[i].tolist() for i in range(nlist)],
                    pa.list_(pa.float64()),
                ),
            }
        ),
    )

    # The corpus fingerprint rides the assignment pass via observe():
    # the stamp aggregates (_ann_fp_exprs — identical expressions to
    # the reuse-path guard's scan) are computed over the SAME rows the
    # postings write consumes, which removes the build's separate
    # full-corpus fingerprint job outright (guide §1.2: one fewer pass
    # — 3 corpus passes → 2; round 18).  Safe because nothing between
    # the CollectMetrics node and the write filters rows (a downstream
    # filter/limit WOULD corrupt the metric — measured on a prototype,
    # so the train sample deliberately keeps its own job).
    obs = Observation()
    (
        _ann_assign(emb.observe(obs, *_ann_fp_exprs()), centroids, m)
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(ppath)
    )
    # version stamp LAST — a crash between postings and meta leaves no
    # meta, which the serve path treats as "not a valid index" (same
    # raise-with-route as an absent index).  Column types mirror the
    # original Spark schema exactly.
    vals = obs.get
    _ann_write_small_table(
        os.path.join(root, "meta"),
        pa.table(
            {
                "writer_version": pa.array([_ANN_WRITER_VERSION], pa.int32()),
                "nlist": pa.array([nlist], pa.int32()),
                "m": pa.array([m], pa.int32()),
                "dim": pa.array([centroids.shape[1]], pa.int32()),
                "geometry_hash": pa.array([_ann_geometry_hash(centroids)]),
                "corpus_n": pa.array([int(vals["n"])], pa.int64()),
                "corpus_fp": pa.array([str(vals["h"])]),
            }
        ),
    )
    return nlist, m, cpath, ppath


def _ann_append(spark: SparkSession, sf_dir: str, suffix: str, delta: DataFrame) -> None:
    """Frozen-geometry SEGMENT append — the shared ingest step of the
    ANN lifecycle (sim_knn_ivf_refresh's daily delta,
    sink_ann_index_compact's multi-day setup): assign the delta under
    the index's OWN stamped geometry (same centroids, same top-m rule
    via the shared ``_ann_assign``), write it as a NEW immutable
    ``postings_seg<N>`` dir in the same ``partitionBy("cell")``
    layout, fsync it, and COMMIT by atomically extending the manifest
    with the segment's name + corpus-fingerprint delta (observed on
    the write pass itself — the fingerprint is (count, Σ
    xxhash64(vec_id)), so the effective stamp derives exactly as base
    + Σ deltas).  O(|delta|·m) write cost, never O(|corpus|) — and no
    read-modify of live dirs, so at 100 TB there is no per-cell
    small-append amplification either.

    Crash safety (round-14, per the round-13 design note — this
    REPLACED the in-place append, whose postings-then-restamp ordering
    had the lifecycle's one fails-closed window): a crash at ANY point
    leaves a servable, TRUTHFUL index.  Before the manifest commit the
    new segment is an orphan dir no manifest names — invisible to
    serves, GC'd by the next compact/build; after the commit the
    segment and its stamp delta become visible together, atomically.
    Meta is never rewritten, so no restamp write exists to tear.
    Segment numbers come from existing dirs on disk (orphans
    included), so a crash orphan can never collide with the next
    append's target.  An EMPTY delta is detected only after the
    claimed segment dir exists, so a crash between the zero-row write
    and the cleanup rmtree can leave an empty orphan dir — manifest-
    invisible like the torn-segment orphan, GC'd by the next
    compact/build, and skipped by the numbering above."""
    import shutil

    root = _ann_root(sf_dir, suffix)
    meta = _ann_read_meta(os.path.join(root, "meta"))
    centroids = _ann_read_centroids(os.path.join(root, "centroids"))
    manifest = _ann_manifest_read(root)
    gen_name, gen_n, gen_fp, segs = manifest
    # next segment number = past everything on disk (crash orphans)
    # AND everything the manifest names (a committed segment whose dir
    # was manually deleted — reusing its name would duplicate the
    # manifest line, double-counting its stale delta; round-14
    # self-review finding).  The deleted segment itself stays the
    # fail-loud _ann_live_paths case.
    next_num = _ann_max_dir_num(
        os.listdir(root) + [s[0] for s in segs], "postings_seg"
    ) + 1
    # round-16: CLAIM the segment dir atomically (os.mkdir) before the
    # Spark write.  Two concurrent appends both compute next_num from
    # the same disk scan; without the claim they would write the SAME
    # dir and clobber each other's parquet files — the manifest fence
    # would still reject one COMMIT, but the winner's committed line
    # could name a dir torn by the loser's concurrent overwrite.  The
    # claim gives each writer a distinct dir, so the fence's orphan
    # story holds exactly: the loser's fully-written segment stays an
    # invisible orphan.  The write is mode("append") into the freshly
    # claimed EMPTY dir (identical result; "overwrite" would delete
    # and recreate the dir, voiding the claim for the scan window).
    seg_name, seg_dir = _ann_claim_dir(root, "postings_seg", next_num)
    # The delta fingerprint rides the assignment pass via observe()
    # (same fold as the build — _ann_fp_exprs, identical expressions to
    # the reuse-path guard's scan), removing the separate thin delta
    # scan: 2 delta passes → 1 (round 18, guide §1.2).
    obs = Observation()
    (
        _ann_assign(delta.observe(obs, *_ann_fp_exprs()), centroids, int(meta["m"]))
        .write.mode("append")
        .partitionBy("cell")
        .parquet(seg_dir)
    )
    vals = obs.get
    d_n, d_fp = int(vals["n"]), int(vals["h"])
    # an EMPTY delta must be a no-op (round-14): a zero-row partitionBy
    # write emits a dir with no data files, and a committed manifest
    # line naming it would poison every later read with
    # UNABLE_TO_INFER_SCHEMA.  Remove the (empty) claimed dir, leaving
    # the layout byte-identical to "never appended" (no manifest line
    # either way; pinned by test_ann_append_empty_delta_is_noop).
    if d_n == 0:
        shutil.rmtree(seg_dir, ignore_errors=True)
        return
    # durability fence BEFORE the commit (files + dirs + the segment's
    # entry in root): the manifest must never name a torn segment
    _fsync_tree(seg_dir)
    # fenced on the snapshot this append extended: a concurrent writer
    # committing in between fails THIS commit loudly (the fresh segment
    # stays an invisible orphan) instead of dropping the other writer's
    # manifest lines
    _ann_manifest_commit(
        root,
        (gen_name, gen_n, gen_fp),
        tuple(segs) + ((seg_name, d_n, d_fp),),
        expected=manifest,
    )
    # segment-cap auto-compact (round-15): the commit above made the
    # appended data durable and servable — K live segments now; once K
    # reaches the cap, fold the layout back to one generation so the
    # serve union never grows past _ANN_MAX_SEGMENTS legs between
    # manual compacts.  Runs AFTER the append's own commit, so a crash
    # (or failure) anywhere inside the compaction leaves the appended
    # segment live and the index servable + truthful — compaction's
    # own crash contract.  A compaction failure PROPAGATES (LSM-style
    # ingest stall): the append itself is already committed, but
    # silently skipping maintenance would let K grow unbounded again.
    if len(segs) + 1 >= _ANN_MAX_SEGMENTS:
        _ann_compact_postings(spark, os.path.join(root, gen_name))


def _count_part_files(path: str) -> int:
    """Data files under a parquet dataset dir (commit markers and
    hidden files excluded) — the small-files metric compaction acts
    on."""
    n = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            if name.endswith(".parquet") and not name.startswith((".", "_")):
                n += 1
    return n


def _ann_compact_postings(
    spark: SparkSession, ppath: str
) -> tuple[str, tuple[int, int]]:
    """The crash-safe compaction swap: rewrite the live postings
    layout under ``ppath``'s root — base generation PLUS every live
    append segment — one-file-per-cell into a NEW generation dir,
    COMMIT via the atomic manifest replace (naming only the new
    generation, with :func:`_ann_fold` of the old manifest carried
    onto its line so the derived stamp is unchanged), then GC every
    superseded postings dir (the ones just folded and any orphans from
    crashed earlier compactions or appends) and crash-orphaned commit
    tmps.  Returns ``(new live postings path, (n, h))`` where ``(n,
    h)`` is the ``(count, Σ row-hash)`` identity of the folded
    content — the before-side of the compaction identity proof.

    Crash at any point leaves a servable index: before the commit the
    old layout is still the resolved one; after it the new one is.
    The generation number is 1 + max over EXISTING gen dirs (not the
    live dir's number), so a crash orphan can never collide with the
    next write-aside target."""
    root = os.path.dirname(ppath)
    manifest = _ann_manifest_read(root)
    meta = _ann_read_meta(os.path.join(root, "meta"))
    # require_base (round-15, per the round-14 advisory): a vanished
    # base GENERATION fails loud here instead of silently folding the
    # stale 'postings' fallback under the manifest's carried deltas —
    # the committed stamp must describe the rewritten content
    live = _ann_live_paths(root, manifest, require_base=True)
    # atomic dir claim (round-16): two concurrent compactions — or a
    # compaction racing the crash-walk — get distinct generation dirs
    # instead of interleaving parquet writes in one (the fence rejects
    # the loser's commit; the claim keeps the winner's dir untorn)
    new_name, rewrite = _ann_claim_dir(
        root, "postings_gen", _ann_max_dir_num(os.listdir(root), "postings_gen") + 1
    )
    # the identity of the folded content is observed on the rewrite's
    # OWN read, so the proof's before-snapshot costs no separate
    # postings scan (round 18).  The observe sits below the
    # repartition exchange, so every row the rewrite consumes is
    # counted exactly once.
    identity = _ann_identity_exprs(_ann_posting_row_hash())
    obs = Observation()
    (
        _ann_read_postings(spark, live)
        .observe(obs, *identity)
        .repartition("cell")
        .write.mode("append")
        .partitionBy("cell")
        .parquet(rewrite)
    )
    vals = obs.get
    seen = (int(vals["n"]), int(vals["h"]))
    # Cross-check the observed count against the committed layout's
    # posting count, known WITHOUT a scan: every vector carries exactly
    # meta["m"] postings (the coverage invariant the build/append
    # writers enforce and sink_ann_index audits), so expected = the
    # effective stamp's corpus_n · m.  The observe sits in the
    # shuffle-map stage, where — on a multi-node cluster — a
    # fetch-failure stage retry or a speculative duplicate re-applies
    # accumulator updates and can overcount; a short read of the live
    # layout would undercount.  On mismatch, fall back to a dedicated
    # snapshot scan of the old live layout — still intact, GC runs only
    # after the commit below — instead of recording a poisoned
    # before-identity.  When nothing is wrong the branch never fires.
    eff_n = _ann_effective_stamp(root, meta, manifest)[0]
    if seen[0] != eff_n * int(meta["m"]):
        snap = _ann_read_postings(spark, live).agg(*identity).collect()[0]
        seen = (int(snap["n"]), int(snap["h"]))
    # durability fence BEFORE the commit point: the manifest's own
    # fsyncs cover the manifest, not the generation it names — under
    # power loss an unfsynced new generation could tear while the
    # committed manifest persists and the old layout is GC'd below
    # (the round-12 advisory finding; _fsync_tree also syncs the
    # generation's entry in root, the round-13 one)
    _fsync_tree(rewrite)
    # COMMIT — everything before this line is invisible to serves.
    # Fenced on the layout snapshot this rewrite FOLDED: a concurrent
    # append committing mid-rewrite would otherwise have its segment
    # line silently dropped by this replace (orphaned committed data)
    _ann_manifest_commit(
        root, (new_name, *_ann_fold(manifest)), (), expected=manifest
    )
    _ann_gc(root, keep={new_name, _ANN_GEN_POINTER})
    return rewrite, seen


def _ann_lay_ingest_history(spark: SparkSession, sf_dir: str, suffix: str) -> None:
    """Simulate the real multi-day ingest history both compaction verbs
    start from: base index built EXCLUDING two ~10% slices, which then
    arrive as two separate ``_ann_append`` days — leaving a base
    generation plus two live append segments (three layout legs)."""
    d1 = F.pmod(F.col("vec_id"), F.lit(10)) == 3
    d2 = F.pmod(F.col("vec_id"), F.lit(10)) == 7
    _build_ann_index(spark, sf_dir, corpus_filter=~(d1 | d2), suffix=suffix)
    emb = _ann_embeddings(spark, sf_dir)
    _ann_append(spark, sf_dir, suffix, emb.filter(d1))
    _ann_append(spark, sf_dir, suffix, emb.filter(d2))


def _ann_compact_and_prove(
    spark: SparkSession, sf_dir: str, suffix: str, with_files_collapsed: bool
) -> DataFrame:
    """Shared proof block of both compaction verbs: run the crash-safe
    swap — which observes the (count, decimal Σ xxhash64) identity of
    the live postings, across the base generation AND every live
    append segment, on its own read — and emit the audit row over the
    swapped-in files: content identity, stamp validity (against the
    DERIVED stamp: meta + manifest deltas), and (full verb only) the
    strict file collapse.  One definition so the identity proof can
    never diverge between the bundled and amortized keys.

    Scope note (r18 advisory): content_identical proves WRITE
    FIDELITY — a short/stale read of the live layout is what the
    manifest cross-check inside :func:`_ann_compact_postings` guards
    (observed count vs the effective stamp's corpus_n · m, with a
    dedicated snapshot-scan fallback on mismatch); a genuinely lost
    VECTOR is still caught by stamp_still_valid (countDistinct vs the
    derived stamp)."""
    root = _ann_root(sf_dir, suffix)
    # same require_base contract as the swap itself
    live = _ann_live_paths(root, require_base=True)
    files_before = sum(_count_part_files(p) for p in live)
    ppath, (n_before, h_before) = _ann_compact_postings(spark, live[0])
    files_after = _count_part_files(ppath)
    eff_n = _ann_effective_stamp(root, _ann_read_meta(os.path.join(root, "meta")))[0]
    cols = [
        "n_vectors",
        F.col("n").alias("n_postings"),
        (
            (F.col("n") == F.lit(n_before))
            & (F.col("h") == F.lit(str(h_before)).cast("decimal(38,0)"))
        ).alias("content_identical"),
    ]
    if with_files_collapsed:
        cols.append(F.lit(files_after < files_before).alias("files_collapsed"))
    cols.append((F.col("n_vectors") == F.lit(eff_n)).alias("stamp_still_valid"))
    return (
        spark.read.parquet(ppath)
        .agg(
            F.countDistinct("vec_id").alias("n_vectors"),
            *_ann_identity_exprs(_ann_posting_row_hash()),
        )
        .select(*cols)
    )


# ---------------------------------------------------------------------------
# the read path
# ---------------------------------------------------------------------------


def _serve_from_ann_index(
    spark: SparkSession,
    sf_dir: str,
    with_recall: bool = True,
    suffix: str = "",
    validate_corpus: bool = False,
    queries: "tuple | None" = None,
) -> DataFrame:
    """Pure read path: answer the query batch from the PERSISTED index
    files only (raises if the index has not been built).

    ``with_recall=False`` returns the served answers themselves
    (qid, vec_id, cos — top-k per query) WITHOUT the exact-baseline
    corpus pass that backs the recall flag: that pass is a full scan
    by definition (it is the thing the index exists to avoid), so the
    driver key keeps it for the correctness gate while the
    amortization measurement (PERF.md round 9) times the product
    path.  ``queries`` = an already-collected ``(qids, qmat)`` batch
    for callers serving the SAME batch twice."""
    from pyspark.sql import Window

    from pyspark_caffe_spark import vecops

    nprobe, k = _ANN_NPROBE, _ANN_K
    root = _ann_root(sf_dir, suffix)
    # ONE manifest parse per serve — the single observation point of
    # the (mutable) layout state: the open/validate gate, the corpus
    # guard's derived stamp, AND the live-path resolution all derive
    # from THIS snapshot (round-15), so a commit landing mid-serve can
    # never make the gate and the served layout observe different
    # layouts
    manifest = _ann_manifest_read(root)
    meta, centroids = _ann_open(root, manifest)
    nprobe = min(nprobe, len(centroids))  # degenerate tiny-corpus index

    emb = _ann_embeddings(spark, sf_dir)
    if validate_corpus:
        _ann_validate_corpus(sf_dir, os.path.join(root, "meta"), meta, emb, manifest)
    qpred = _ann_query_pred()
    queries_df = emb.filter(qpred)
    if queries is None:
        qids, qmat, _ = vecops._collect_matrix(queries_df, "vec_id", "emb")
    else:
        qids, qmat = queries

    probe_rank = np.argsort(-(qmat @ centroids.T), axis=1)[:, :nprobe]
    probe_mask = np.zeros((len(qids), len(centroids)), dtype=bool)
    np.put_along_axis(probe_mask, probe_rank, True, axis=1)
    probed_cells = sorted({int(c) for c in probe_rank.reshape(-1)})

    # live layout = base generation + append segments (manifest order),
    # one flat union with the cell filter pruning unprobed partition
    # dirs on EVERY leg (round-13 design note)
    post = (
        _ann_read_postings(spark, _ann_live_paths(root, manifest))
        # partition pruning: only the probed cell directories are read
        .filter(F.col("cell").isin(probed_cells))
        # the query slice is not part of the served corpus (mirror of
        # sim_knn_ivf_batch's corpus = emb \ queries)
        .filter(~qpred)
    )
    bc = spark.sparkContext.broadcast((qids, qmat, probe_mask))

    def serve(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        q_ids, q_mat, p_mask = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["emb"].to_numpy()).astype(np.float64)
            ids = pdf["vec_id"].to_numpy()
            cells = pdf["cell"].to_numpy().astype(np.int64)
            cand = p_mask[:, cells]            # [nq × rows]
            scores = np.round(x @ q_mat.T, 6)  # [rows × nq]
            out_q, out_id, out_cos = [], [], []
            for qi in range(len(q_ids)):
                cidx = np.nonzero(cand[qi])[0]
                if not len(cidx):
                    continue
                # within-batch dedup (a vector can arrive from two
                # probed cells) so duplicates can't crowd the local
                # top-k; scores for a duplicate are identical
                uniq_ids, first = np.unique(ids[cidx], return_index=True)
                sub = scores[cidx, qi][first]
                sel = np.lexsort((uniq_ids, -sub))[: min(k, len(uniq_ids))]
                out_q.extend([q_ids[qi]] * len(sel))
                out_id.extend(uniq_ids[sel])
                out_cos.extend(sub[sel])
            if out_q:
                yield pd.DataFrame(
                    {"qid": out_q, "vec_id": out_id, "cos": out_cos}
                )

    cand = post.mapInPandas(serve, schema="qid long, vec_id long, cos double")
    # global dedup across batches/cells, then the bounded top-k merge
    best = cand.groupBy("qid", "vec_id").agg(F.max("cos").alias("cos"))
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    ivf_ranked = best.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= k
    )
    if not with_recall:
        return ivf_ranked.select("qid", "vec_id", "cos")
    ivf_top = ivf_ranked.select("qid", "vec_id")

    # exact baseline: one corpus pass, per-batch local top-k per query,
    # global window merge (provably contains the true top-k)
    corpus = emb.filter(~qpred)
    bc_q = spark.sparkContext.broadcast((qids, qmat))

    def exact(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        q_ids, q_mat = bc_q.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["emb"].to_numpy()).astype(np.float64)
            ids = pdf["vec_id"].to_numpy()
            scores = np.round(x @ q_mat.T, 6)
            out_q, out_id, out_cos = [], [], []
            for qi in range(len(q_ids)):
                col = scores[:, qi]
                sel = np.lexsort((ids, -col))[: min(k, len(col))]
                out_q.extend([q_ids[qi]] * len(sel))
                out_id.extend(ids[sel])
                out_cos.extend(col[sel])
            if out_q:
                yield pd.DataFrame(
                    {"qid": out_q, "vec_id": out_id, "cos": out_cos}
                )

    ex = corpus.mapInPandas(exact, schema="qid long, vec_id long, cos double")
    exact_top = (
        ex.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("qid", "vec_id")
    )
    hits = (
        ivf_top.join(exact_top, ["qid", "vec_id"], "inner")
        .groupBy("qid")
        .agg(F.count("*").alias("_hits"))
    )
    return (
        queries_df.select(F.col("vec_id").alias("qid"))
        .join(F.broadcast(hits), "qid", "left")
        .select(
            "qid",
            F.lit(k).alias("k"),
            (F.coalesce(F.col("_hits"), F.lit(0)) >= int(0.9 * k)).alias("recall_ok"),
        )
    )
