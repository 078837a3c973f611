"""State store: the engine-side equivalent of the reference's Supabase
tables (SURVEY.md §1.2).

Each state entity is an append-only parquet table under a warehouse
directory; readers get plain DataFrames. Writes append (the reference's
inserts, storage_service.py / historical_metrics.py); retention and
latest-per-key compaction are batch jobs over the same tables
(supabase_manager.py:275-305 keep-latest-30).

Scale notes: appends are partitioned by ``run_date`` so both retention and
time-ranged reads prune partitions; each append coalesces to a few files to
avoid small-file explosion from frequent runs.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparvi_spark.functions import local_df

# entity -> schema DDL (profile documents are stored as a JSON string in
# `data`, mirroring profiling_history.data — SURVEY §1.2 row 1).
ENTITIES: dict[str, str] = {
    "profiles": ("table_name string, collected_at timestamp, data string, "
                 "run_date date"),
    "validation_results": (
        "table_name string, rule_name string, operator string, "
        "expected_lo double, expected_hi double, actual_value double, "
        "is_valid boolean, run_at timestamp, run_date date"),
    "historical_metrics": (
        "metric_name string, metric_value double, metric_text string, "
        "metric_type string, table_name string, column_name string, "
        "source string, ts timestamp, run_date date"),
    "schema_snapshots": (
        "table_name string, column_name string, col_type string, "
        "nullable boolean, pk_ordinal int, collected_at timestamp, "
        "run_date date"),
    "schema_changes": (
        "change_type string, table_name string, column_name string, "
        "details string, important boolean, detected_at timestamp, "
        "run_date date"),
    "anomaly_results": (
        "metric_name string, table_name string, column_name string, "
        "method string, ts timestamp, value double, score double, "
        "threshold double, severity string, run_date date"),
    # engine event log (core/automation/events.py:10-24 event types)
    "engine_events": (
        "event_type string, table_name string, details string, "
        "detected_at timestamp, run_date date"),
    # corpus ingest-gate summaries (Engine.screen_corpus)
    "corpus_screens": (
        "corpus_name string, n_docs bigint, keep_rate double, "
        "dup_rate double, contamination_rate double, "
        "classifier_pass_rate double, "
        "screened_at timestamp, run_date date"),
    # stored numeric-histogram baselines for distribution-drift checks
    # (Engine.save_drift_baseline / run_drift_check): columns x bins rows
    # per table — kilobytes regardless of the snapshot's size
    "drift_baselines": (
        "table_name string, column_name string, b bigint, cnt bigint, "
        "mn double, mx double, bins int, collected_at timestamp, "
        "run_date date"),
    # MinHash signatures of every doc admitted to a corpus
    # (Engine.dedup_corpus_incremental): num_hashes longs per doc — the
    # corpus' dedup state WITHOUT the corpus (a billion docs ≈ 0.5 TB of
    # signatures vs the corpus' 100 TB of text). hash_family/shingle_n/
    # num_hashes pin the signature scheme the rows were produced under:
    # signatures from DIFFERENT schemes never agree, so a silent family
    # flip between batches (e.g. xxhash64 -> arrow, or a version upgrade
    # changing the construction, as r10's KM -> affine fix did) would
    # quietly stop catching cross-batch duplicates — the engine validates
    # the batch's params against stored rows and raises on mismatch
    # (legacy NULL-stamped rows warn). band_hashes precomputes the LSH
    # band hashes ONCE at admission (dedup.band_hashes_expr) so the
    # per-batch band join streams stored rows without re-slicing every
    # signature — the steepest O(state) term per microbatch; NULL or
    # wrong-width rows fall back to inline computation. Parquet
    # schema-read fills all new columns with NULL on pre-r11 files.
    "corpus_signatures": (
        "corpus_name string, doc_id string, sig array<bigint>, "
        "hash_family string, shingle_n int, num_hashes int, "
        "band_hashes array<bigint>, "
        "added_at timestamp, run_date date"),
    # top-K token frequencies of a reference corpus (Engine.
    # save_vocab_baseline / check_vocab_drift): K rows + the TRUE total
    # (so the baseline's out-of-vocab mass is representable) — kilobytes
    # of state standing in for the corpus' token distribution, the
    # vocabulary analogue of drift_baselines
    "vocab_baselines": (
        "corpus_name string, token string, cnt bigint, total bigint, "
        "top_k int, collected_at timestamp, run_date date"),
}


# ---------------------------------------------------------------------------
# Pointer-file commit protocol (object-store-safe state swaps).
#
# A state rewrite (retention compaction, incremental-sketch refresh) must
# never be an in-place rmtree+rename: directory rename is not atomic on
# S3/GCS, and a crash mid-swap loses the only copy. Instead each rewritable
# dataset lives under versioned subdirectories with a tiny ``_CURRENT``
# pointer file naming the committed one:
#
#     <base>/_CURRENT        -> "v_00000042"
#     <base>/v_00000042/...  committed data (the only dir readers touch)
#     <base>/v_00000043/...  in-flight write (invisible until the flip)
#
# Commit = write the full new version dir, then atomically replace the
# pointer (fsync + os.replace here; on an object store the equivalent is a
# single-key PUT, which IS atomic on S3/GCS — unlike dir renames), then GC
# unreferenced versions. A crash at ANY point leaves the pointer naming a
# complete prior version: before the flip the old state is untouched; after
# it, stray dirs are garbage-collected on the next commit. Hadoop readers
# ignore ``_``-prefixed files, so the pointer never pollutes a listing.
# Reference counterpart: Supabase's transactional writes
# (core/storage/supabase_manager.py).
# ---------------------------------------------------------------------------

_POINTER = "_CURRENT"
_LEASE = "_LEASE"
# release_lease only removes the lease file while this much TTL remains —
# see its docstring for the race the margin closes
_RELEASE_MARGIN = 1.0


class LeaseConflict(RuntimeError):
    """Another writer holds the commit lease for this state directory."""


def read_lease(base: str) -> dict | None:
    """Current lease document (``{"owner", "expires_at"}``) or None."""
    try:
        with open(os.path.join(base, _LEASE)) as f:
            doc = json.loads(f.read())
        return doc if isinstance(doc, dict) and "owner" in doc else None
    except (OSError, ValueError):
        return None


def acquire_lease(base: str, owner: str | None = None,
                  ttl_seconds: float = 120.0,
                  wait_seconds: float = 30.0) -> str:
    """Take the single-writer commit lease for ``base``; returns the owner
    id to pass to :func:`verify_lease` / :func:`release_lease`.

    The arbiter is ``os.link`` of a fully-written temp file into the
    ``_LEASE`` name — an atomic create-if-absent WITH content (the
    classic lockfile pattern, atomic on posix and NFS): exactly one of
    any number of racing writers gets the link, everyone else loops
    until the deadline then raises :class:`LeaseConflict`. A bare
    O_EXCL create was rejected: it publishes an EMPTY file before the
    payload lands, and a contender reading that window classifies the
    fresh lease as corrupt, rename-steals it, and two writers both own
    (caught by test_state_lease_mutual_exclusion under load). Plain
    atomic replace was rejected earlier for the same class of reason:
    replace-then-read-back lets two writers each observe themselves as
    owner when their replaces interleave.

    A lease older than its ``expires_at`` is STOLEN in two steps:
    rename it to a graveyard name (only one thief's rename can succeed —
    the loser's source is gone), then compete again through the link
    like everyone else — stealing never grants ownership by itself, so
    two concurrent thieves cannot both win.

    On S3/GCS there is no atomic link; substitute a conditional PUT
    (If-None-Match: *) or an external lock row — the protocol shape
    (create-if-absent, TTL takeover, verify-before-flip) is unchanged.
    """
    import random
    import socket
    import time
    import uuid

    owner = owner or (f"{socket.gethostname()}:{os.getpid()}:"
                      f"{uuid.uuid4().hex[:8]}")
    os.makedirs(base, exist_ok=True)
    path = os.path.join(base, _LEASE)
    deadline = time.monotonic() + wait_seconds
    while True:
        tmp = path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(json.dumps({
                "owner": owner,
                "expires_at": time.time() + ttl_seconds,
            }))
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)
            os.remove(tmp)
            return owner
        except FileExistsError:
            os.remove(tmp)
            cur = read_lease(base)
            if cur is not None and float(
                    cur.get("expires_at", 0)) <= time.time():
                # expired: clear it (rename = one winner), then re-compete
                try:
                    os.rename(path, path + ".expired." + uuid.uuid4().hex)
                except OSError:
                    pass
            elif cur is None and os.path.exists(path):
                # unreadable/corrupt lease file (possible only after a
                # filesystem-level mangling — link publishes complete
                # content): same takeover path
                try:
                    os.rename(path, path + ".expired." + uuid.uuid4().hex)
                except OSError:
                    pass
            if time.monotonic() >= deadline:
                holder = (cur or {}).get("owner", "<unknown>")
                raise LeaseConflict(
                    f"commit lease for {base} held by {holder}")
            time.sleep(0.02 + random.random() * 0.05)


def verify_lease(base: str, owner: str) -> bool:
    """True iff ``owner`` still holds an unexpired lease on ``base``.

    Callers MUST re-verify immediately before the pointer flip: a writer
    that stalled past its TTL may have been taken over, and flipping
    anyway would overwrite the successor's commit. (The verify→flip gap
    is a residual TOCTOU — irreducible without a CAS pointer write; the
    lease TTL must therefore be sized to the whole WRITE it protects —
    see ``state_lease`` — while the unguarded gap stays microseconds.)"""
    import time

    cur = read_lease(base)
    return (cur is not None and cur.get("owner") == owner
            and float(cur.get("expires_at", 0)) > time.time())


def release_lease(base: str, owner: str) -> None:
    """Drop the lease if ``owner`` still holds it UNEXPIRED.

    An expired lease is deliberately left for the thieves' rename path:
    a stalled owner that removed its own expired lease could race a
    successor that just replaced it — read-check-remove is not atomic,
    and deleting the successor's fresh lease would reopen the two-writer
    window. While unexpired, no thief touches the path and no acquirer
    can link over it, so the remove is safe. The check additionally
    requires a small TTL margin (``_RELEASE_MARGIN``): with a bare
    ``> now`` test, a lease that expires INSIDE the read→remove window
    can be rename-stolen and re-linked fresh by a successor before the
    remove lands, deleting the successor's lease. The margin shrinks
    that residual to "owner's process stalls >1s between two adjacent
    syscalls while exactly at TTL edge" — same irreducible class as the
    verify→flip gap documented on :func:`verify_lease`."""
    import time

    path = os.path.join(base, _LEASE)
    cur = read_lease(base)
    if (cur is not None and cur.get("owner") == owner
            and float(cur.get("expires_at", 0)) > time.time()
            + _RELEASE_MARGIN):
        try:
            os.remove(path)
        except OSError:
            pass


class state_lease:
    """``with state_lease(base) as owner:`` — acquire on enter, release on
    exit. Also sweeps graveyard files from past takeovers on exit.

    The default TTL is 30 MINUTES: the lease covers the whole
    version-dir WRITE (a distributed parquet job that can run long at
    scale), not just the pointer flip — a TTL shorter than the write
    guarantees every commit expires mid-flight, gets stolen, and two
    writers race the same next_version name. A crashed writer therefore
    blocks compaction for up to the TTL; takeover handles it after.
    Size ``ttl_seconds`` to a safe multiple of the expected write."""

    def __init__(self, base: str, owner: str | None = None,
                 ttl_seconds: float = 1800.0, wait_seconds: float = 30.0):
        self.base = base
        self._owner_arg = owner
        self.ttl = ttl_seconds
        self.wait = wait_seconds
        self.owner: str | None = None

    def __enter__(self) -> str:
        self.owner = acquire_lease(self.base, self._owner_arg,
                                   ttl_seconds=self.ttl,
                                   wait_seconds=self.wait)
        return self.owner

    def __exit__(self, *exc) -> None:
        import time

        if self.owner is not None:
            release_lease(self.base, self.owner)
        # graveyard files are sweepable immediately (rename-stolen, no
        # one links them back); ``.tmp.`` files may belong to a RACING
        # acquirer between its fsync and its os.link — deleting one
        # crashes that acquirer with FileNotFoundError (round-7 review)
        # — so only clearly-abandoned ones (crashed writers) go
        try:
            now = time.time()
            for e in os.listdir(self.base):
                full = os.path.join(self.base, e)
                stale_tmp = False
                if e.startswith(_LEASE + ".tmp."):
                    try:
                        stale_tmp = now - os.path.getmtime(full) > 300.0
                    except OSError:
                        continue
                if e.startswith(_LEASE + ".expired.") or stale_tmp:
                    try:
                        os.remove(full)
                    except OSError:
                        pass
        except OSError:
            pass


def read_pointer(base: str) -> str | None:
    """Name of the committed version dir under ``base`` (None = none yet)."""
    try:
        with open(os.path.join(base, _POINTER)) as f:
            return f.read().strip() or None
    except OSError:
        return None


def write_pointer(base: str, version: str) -> None:
    """Atomically commit ``version`` as the current one (fsync + replace)."""
    os.makedirs(base, exist_ok=True)
    tmp = os.path.join(base, _POINTER + "._tmp")
    with open(tmp, "w") as f:
        f.write(version)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(base, _POINTER))


def next_version(base: str) -> str:
    """Next unused version-dir name under ``base``."""
    try:
        taken = [d for d in os.listdir(base) if d.startswith("v_")]
    except OSError:
        taken = []
    n = max((int(d[2:]) for d in taken), default=0) + 1
    return f"v_{n:08d}"


def gc_versions(base: str, grace_seconds: float = 300.0) -> None:
    """Drop every version dir except the committed one.

    ``grace_seconds`` protects a CONCURRENT first commit: a reader that
    finds no pointer calls this to clear crashed in-flight dirs, but an
    in-flight dir younger than the grace window may belong to a committer
    that is about to flip the pointer — deleting it would strand the
    pointer on a missing dir (the table-format GC-grace pattern; crashed
    dirs are old by the time anyone re-reads). Writers GC right after
    their own flip, where the grace only delays reclaiming crashed space
    by one cycle. Pass 0 to force-collect everything uncommitted.
    """
    import shutil
    import time

    current = read_pointer(base)
    try:
        entries = os.listdir(base)
    except OSError:
        return
    now = time.time()
    for d in entries:
        if d.startswith("v_") and d != current:
            full = os.path.join(base, d)
            try:
                if now - os.path.getmtime(full) < grace_seconds:
                    continue
            except OSError:
                continue
            shutil.rmtree(full, ignore_errors=True)


def table_format_available(spark: SparkSession, fmt: str) -> bool:
    """True iff ``fmt`` resolves to a registered Spark data source in this
    session (e.g. "delta" needs the delta-spark jars on the classpath)."""
    try:
        spark._jvm.org.apache.spark.sql.execution.datasources.DataSource \
            .lookupDataSource(fmt, spark._jsparkSession.sessionState()
                              .conf())
        return True
    except Exception:
        return False


class StateStore:
    """State tables under ``root`` (one dir per entity).

    ``table_format`` picks the commit protocol:

    - ``"parquet"`` (default, always available): plain parquet plus this
      module's homegrown protocol — pointer-file commits for rewrites,
      the os.link commit lease for multi-writer safety.
    - an ACID table format (``"delta"``, when its jars are on the
      session classpath): the format's transaction log
      SUBSUMES the pointer+lease protocol — appends and overwrites are
      snapshot-isolated commits, concurrent writers serialize in the
      log (optimistic concurrency) instead of on the lease file, and
      the format's time travel covers what the pointer's version dirs
      covered. ``retain_latest`` becomes a single transactional
      overwrite (the format reads the pinned pre-overwrite snapshot, so
      source==destination is safe — the exact pattern the parquet path
      needs version dirs to avoid).

    Construction raises immediately when the requested format is not
    registered in the session — a missing-jar failure at first WRITE
    would be long after the config mistake.

    Only formats in ``ACID_FORMATS`` get the transactional
    ``retain_latest`` overwrite: a plain file source there would read
    and overwrite the SAME path with no snapshot between them — Spark's
    self-overwrite check aborts it at best, and evading that check
    truncates the only copy of the state, exactly the loss the parquet
    pointer protocol exists to prevent. Other registered formats (e.g.
    "orc") still work for append/read — they share parquet's
    append-only layout semantics — but ``retain_latest`` refuses them.

    Iceberg is rejected at construction (not just unlisted): this
    class writes path tables through the DataFrameWriter v1
    ``format(...).save(path)`` route, and Iceberg's v1 path cannot
    CREATE a table that does not exist — the first append for a fresh
    entity fails. Supporting it needs the v2 ``writeTo(...)
    .createOrReplace()`` route against a configured Iceberg catalog,
    which this sandbox cannot exercise; refusing up front beats
    failing on the first write."""

    ACID_FORMATS = ("delta",)

    def __init__(self, spark: SparkSession, root: str,
                 table_format: str = "parquet"):
        self.spark = spark
        self.root = root
        self.fmt = table_format
        self._acid = table_format != "parquet"
        if table_format == "iceberg":
            raise ValueError(
                "table_format 'iceberg' is not supported: the v1 "
                "path-writer route used here cannot bootstrap a "
                "never-written Iceberg table (needs writeTo().create* "
                "against an Iceberg catalog) — use 'delta' (when its "
                "jars are on the classpath) or the default 'parquet' "
                "pointer-file protocol")
        if self._acid and not table_format_available(spark, table_format):
            raise ValueError(
                f"table_format {table_format!r} is not registered in this "
                f"Spark session — add its package to the session (e.g. "
                f"spark.jars.packages io.delta:delta-spark_2.13:... plus "
                f"its SQL extension confs) or use the default 'parquet' "
                f"backend (pointer-file + lease protocol)")

    def _path(self, entity: str) -> str:
        if entity not in ENTITIES:
            raise KeyError(f"unknown state entity {entity!r}")
        return os.path.join(self.root, entity)

    def _fs_exists(self, path: str) -> bool:
        """Existence through the Hadoop FileSystem API — unlike
        os.path.exists this resolves the path's own scheme (s3a://,
        hdfs://, file://), so non-local state roots don't read as
        permanently missing."""
        jvm = self.spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(
            self.spark._jsparkSession.sessionState().newHadoopConf())
        return bool(fs.exists(jpath))

    # error classes (Spark 4 "error conditions") that mean "no committed
    # table here yet" — matched against the structured field first
    _MISSING_TABLE_CLASSES = (
        "PATH_NOT_FOUND", "DELTA_MISSING_DELTA_TABLE",
        "TABLE_OR_VIEW_NOT_FOUND", "NO_SUCH_TABLE")

    @classmethod
    def _missing_table_error(cls, exc: Exception) -> bool:
        """True iff ``exc`` is a never-written-table error. Prefers the
        exception's structured error class (``getCondition`` in Spark 4,
        ``getErrorClass`` before it) so a message-wording change across
        Spark/Delta versions can't turn fresh-bootstrap reads into hard
        failures; the substring match remains as the last resort for
        exceptions that carry no class (e.g. Delta's own types)."""
        for getter in ("getCondition", "getErrorClass"):
            fn = getattr(exc, getter, None)
            if fn is None:
                continue
            try:
                klass = fn()
            except Exception:
                continue
            if klass:
                return any(klass.startswith(c)
                           for c in cls._MISSING_TABLE_CLASSES)
        msg = str(exc)
        return any(m in msg for m in (
            "PATH_NOT_FOUND", "Path does not exist",
            "DELTA_MISSING", "is not a Delta table",
            "NoSuchTableException", "Table does not exist",
            "TABLE_OR_VIEW_NOT_FOUND"))

    def _data_path(self, entity: str, create: bool = False) -> str:
        """Committed data dir for an entity (pointer-resolved). Entities
        never rewritten keep working from the legacy flat layout; the first
        append/compaction establishes the pointer."""
        base = self._path(entity)
        current = read_pointer(base)
        if current is None:
            # no pointer = no version dir was ever committed; any stray
            # v_* dir is a crashed in-flight write — drop it so a legacy
            # flat read of ``base`` doesn't trip over the subdirectory
            gc_versions(base)
            try:
                legacy = any(not e.startswith(("_", "."))
                             for e in os.listdir(base))
            except OSError:
                legacy = False
            if legacy or not create:
                return base  # legacy flat layout (or nothing yet)
            current = next_version(base)
            write_pointer(base, current)
        return os.path.join(base, current)

    def append(self, entity: str, df: DataFrame) -> None:
        """Append rows (stamping run_date for partition pruning)."""
        if "run_date" not in df.columns:
            ts_col = next(
                (c for c in ("collected_at", "run_at", "detected_at", "ts")
                 if c in df.columns), None)
            stamp = F.to_date(ts_col) if ts_col else F.current_date()
            df = df.withColumn("run_date", stamp)
        if self._acid:
            # the format's log is the commit protocol — no pointer dirs
            (df.coalesce(4).write.format(self.fmt).mode("append")
             .partitionBy("run_date").save(self._path(entity)))
            return
        (df.coalesce(4).write.mode("append")
         .partitionBy("run_date").parquet(self._data_path(entity, create=True)))

    def append_rows(self, entity: str, rows: list[dict[str, Any]]) -> None:
        """Append plain dicts (values may be strings; cast per the entity
        DDL — ISO timestamps etc. — so callers don't build typed Rows).
        The rows ship as one Arrow local relation of strings
        (``functions.local_df``): the write job starts no Python worker."""
        fields = [
            (f.strip().split(" ")[0], f.strip().split(" ", 1)[1])
            for f in ENTITIES[entity].split(",")
            if f.strip().split(" ")[0] != "run_date"
        ]
        str_schema = ", ".join(f"{n} string" for n, _ in fields)
        df = local_df(
            self.spark,
            [tuple(None if r.get(n) is None else str(r.get(n)) for n, _ in fields)
             for r in rows],
            str_schema)
        self.append(entity, df.select(
            *[F.col(n).cast(t).alias(n) for n, t in fields]))

    def read(self, entity: str) -> DataFrame:
        """Read an entity table; a never-written entity reads as empty.

        Existence is probed THROUGH the Spark read, not os.path.exists —
        the path check is always False for non-local roots (s3://,
        hdfs://) and would silently return empty state forever, turning
        every engine run into a fresh bootstrap with no error."""
        if self._acid:
            path = self._path(entity)
            # never-written probe #1 (structural): ask the Hadoop
            # FileSystem whether the table path exists at all. Works for
            # any scheme (file://, s3a://, hdfs://) and catches the
            # common fresh-bootstrap case without parsing any exception.
            if not self._fs_exists(path):
                return local_df(self.spark, [], ENTITIES[entity])
            # table formats own their schema (a user-supplied read schema
            # is ignored or rejected); align to the entity DDL by cast so
            # both backends hand callers identical column types
            try:
                raw = self.spark.read.format(self.fmt).load(path)
            except Exception as exc:
                # probe #2: path exists but holds no committed table
                # (e.g. a dir created by a crashed writer). Prefer the
                # STRUCTURED error class Spark 4 attaches to captured
                # exceptions over message text; the substring match is
                # only the fallback for older/foreign exception shapes.
                if self._missing_table_error(exc):
                    return local_df(self.spark, [], ENTITIES[entity])
                raise
            fields = [(f.strip().split(" ")[0], f.strip().split(" ", 1)[1])
                      for f in ENTITIES[entity].split(",")]
            return raw.select(*[F.col(n).cast(t).alias(n)
                                for n, t in fields])
        path = self._data_path(entity)
        try:
            return self.spark.read.schema(ENTITIES[entity]).parquet(path)
        except Exception as exc:
            if "PATH_NOT_FOUND" in str(exc) or "Path does not exist" in str(exc):
                return local_df(self.spark, [], ENTITIES[entity])
            raise

    # -- profile documents (JSON payloads, profiling_history shape) --------

    def save_profile(self, table_name: str, profile: dict[str, Any],
                     collected_at: str) -> None:
        self.append_rows("profiles", [{
            "table_name": table_name,
            "collected_at": collected_at,
            "data": json.dumps(profile, default=str, sort_keys=True),
        }])

    def latest_profile(self, table_name: str) -> dict[str, Any] | None:
        """Newest stored profile document (the ``previous_profile`` input of
        a profile run — routes/profiles.py:71)."""
        rows = (self.read("profiles")
                .where(F.col("table_name") == table_name)
                .orderBy(F.col("collected_at").desc())
                .limit(1).collect())
        return json.loads(rows[0]["data"]) if rows else None

    def retain_latest(self, entity: str, keys: list[str], order_col: str,
                      n: int = 30) -> None:
        """Keep the newest n rows per key (supabase_manager.py:275-305),
        rewriting the entity table.

        The retained frame writes DISTRIBUTED into a fresh version dir
        (source and destination never overlap, so no driver collect), and
        the swap is the pointer-file commit above: a crash before the
        pointer flip leaves the previous version fully readable, and old
        versions are GC'd only after the flip. Pointer I/O here is posix
        (open/fsync/os.replace); on an object store substitute the SDK's
        atomic single-key PUT.

        The whole rewrite runs under the commit lease: without it two
        concurrent engines race ``next_version`` (colliding on the same
        dir name) and the second pointer flip silently discards the first
        writer's committed version. A second engine therefore WAITS (up
        to the lease deadline) and then reruns retention over the
        now-current state; ownership is re-verified immediately before
        the flip so a stalled-past-TTL writer aborts instead of
        overwriting its successor.

        On an ACID ``table_format`` backend all of the above collapses to
        ONE transactional overwrite: the format reads the pinned
        pre-overwrite snapshot (source==destination is safe under
        snapshot isolation), concurrent writers serialize in its
        transaction log, and a crash mid-commit leaves the previous
        snapshot current — pointer, version dirs, lease, and GC are the
        format's job."""
        from sparvi_spark.operators.trends import retain_latest as _retain

        self.rewrite(entity, lambda df: _retain(df, keys, order_col, n))

    def rewrite(self, entity: str, transform) -> None:
        """Transactionally replace an entity table with
        ``transform(read(entity))`` — the versioned-rewrite protocol
        ``retain_latest`` documents (pointer-file commit under the state
        lease on the parquet backend; one snapshot-isolated overwrite on
        an ACID format). ``transform`` is a DataFrame -> DataFrame
        function whose output must carry the entity's schema columns
        (extras are dropped by the projection here). Used for retention
        compaction and one-time state migrations
        (Engine.restamp_corpus_signatures)."""
        base = self._path(entity)
        cols = [f.strip().split(" ")[0] for f in ENTITIES[entity].split(",")]
        if self._acid:
            if self.fmt not in self.ACID_FORMATS:
                raise ValueError(
                    f"rewrite needs a transactional table format "
                    f"(one of {self.ACID_FORMATS}); {self.fmt!r} would "
                    f"read and overwrite the same path with no snapshot "
                    f"— use the parquet backend's pointer protocol "
                    f"instead")
            kept = transform(self.read(entity))
            (kept.select(*cols).coalesce(4).write.format(self.fmt)
             .mode("overwrite").partitionBy("run_date").save(base))
            return
        with state_lease(base) as lease_owner:
            kept = transform(self.read(entity))
            version = next_version(base)
            kept.select(*cols).coalesce(4).write.mode("overwrite") \
                .partitionBy("run_date") \
                .parquet(os.path.join(base, version))
            # migrating a legacy flat layout: the new version dir sits
            # beside the old flat files, which become unreferenced once
            # the pointer exists — clear them so future reads don't
            # double-count
            legacy = [e for e in os.listdir(base)
                      if not e.startswith(("_", ".", "v_"))]
            if not verify_lease(base, lease_owner):
                raise LeaseConflict(
                    f"lost commit lease for {base} before pointer flip; "
                    f"version {version} left uncommitted for GC")
            write_pointer(base, version)
            import shutil
            for e in legacy:
                p = os.path.join(base, e)
                shutil.rmtree(p, ignore_errors=True) if os.path.isdir(p) \
                    else os.remove(p)
            gc_versions(base, grace_seconds=0)  # lease held: safe to GC
