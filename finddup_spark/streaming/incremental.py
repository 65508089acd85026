"""Incremental / streaming dedup (SURVEY.md §2.9).

The reference is batch-only; its change-detection phase
(``check_files_for_changes``, ``finddup.py:974-1005``) and resume
semantics are proto-streaming. Two incremental paths:

- :func:`incremental_exact_dedup` — batch-incremental: process only rows
  with ``warc_ts`` above the stored high-water mark (the lineage analog
  of the reference's mtime snapshot, ``finddup.py:877``), anti-joining
  new content hashes against the accumulated cluster state.
- :func:`streaming_exact_dedup` — Structured Streaming: file-source
  ``readStream`` over a growing pages directory, watermark on ``warc_ts``
  for late re-crawls, ``foreachBatch`` running the same incremental merge
  (exactly-once via the streaming checkpoint + idempotent parquet state).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

STATE_SCHEMA = "content_sha string, cluster_id long"

#: compact when the manifest lists more than this many delta dirs — keeps
#: the read fan-in (and task count per state read) bounded.
COMPACT_THRESHOLD = 32


_MANIFEST_PREFIX = "exact_state_MANIFEST.v"
_COMMIT_TRAILER = "#COMMIT"


def _manifest_path(out_dir: str) -> str:
    """Legacy single-file manifest (pre-versioning layout) — still READ as
    a fallback so old state dirs keep working; never written anymore."""
    return os.path.join(out_dir, "exact_state_MANIFEST")


def _delta_root(out_dir: str) -> str:
    return os.path.join(out_dir, "exact_state_deltas")


def _manifest_versions(out_dir: str) -> list[tuple[int, str]]:
    """(version, filename) descending — newest first."""
    try:
        names = os.listdir(out_dir)
    except FileNotFoundError:
        return []
    out = []
    for n in names:
        if n.startswith(_MANIFEST_PREFIX):
            try:
                out.append((int(n[len(_MANIFEST_PREFIX):]), n))
            except ValueError:
                continue
    return sorted(out, reverse=True)


def _active_manifest(out_dir: str) -> tuple[int, list[str]]:
    """(version, deltas) of the highest COMMITTED manifest: walk versions
    newest first and take the first whose body carries the commit trailer
    — an in-flight or crash-truncated manifest (no trailer) is skipped,
    never half-read. Needs no atomic rename, only per-object
    read-your-writes."""
    for v, name in _manifest_versions(out_dir):
        with open(os.path.join(out_dir, name)) as f:
            lines = f.read().splitlines()
        if lines and lines[-1] == _COMMIT_TRAILER:
            return v, [ln.strip() for ln in lines[:-1] if ln.strip()]
    mp = _manifest_path(out_dir)  # legacy fallback
    if os.path.exists(mp):
        with open(mp) as f:
            return 0, [line.strip() for line in f if line.strip()]
    return 0, []


def _committed_deltas(out_dir: str) -> list[str]:
    return _active_manifest(out_dir)[1]


def _commit_manifest(
    out_dir: str, deltas: list[str], expected_base: list[str] | None = None
) -> bool:
    """Optimistic-concurrency (CAS) commit — the object-store-safe
    protocol the round-2 ``os.replace`` rename could not give (S3 has no
    atomic rename): the new manifest is written ONCE at its final
    versioned name ``exact_state_MANIFEST.v{N}`` opened with
    O_CREAT|O_EXCL (the POSIX analog of S3 If-None-Match / GCS
    if-generation-match-0 — creation fails if the name exists, so two
    racing writers can never both claim version N), body terminated by a
    commit trailer and fsynced. A crash mid-write leaves a trailer-less
    file at version N that readers permanently skip (and future commits
    version past) — partial state is never exposed. Old versions are tiny
    text files; GC may delete everything below the highest committed
    version.

    Race semantics are STRICT compare-and-swap, the Iceberg
    snapshot-commit loop: the commit succeeds only if the committed list
    still equals ``expected_base`` (the list the writer derived its
    deltas from) — checked after snapshotting the version listing, so a
    racer that commits after the check lands on the same version number
    and forces this writer's O_EXCL create to fail, which re-runs the
    check — and POST-VALIDATED: after writing, the commit only counts if
    it is still the highest committed version (readers take the highest,
    so a superseded commit never becomes visible and must be retried).
    Returns False on conflict; the CALLER re-reads state and recomputes
    (merge_batch's retry loop). Name-set merging was deliberately
    rejected: it cannot express 'compacted dir K REPLACES deltas A,B'
    against a racer that still references A or B without duplicating
    state rows.

    Post-validation is two-sided: the commit only counts if (a) it is
    still the highest committed version (readers take the highest, so a
    superseded commit never becomes visible), AND (b) NO version between
    the pre-check snapshot and this write has become committed — (b)
    catches the in-flight-writer interleaving where a racer's
    trailer-terminated manifest was mid-write (hence skipped as
    uncommitted) during this writer's pre-check and completed before
    this writer's own write landed; without it this writer could commit
    a higher version that silently drops the racer's delta while BOTH
    return success.

    Known limit, shared with every listing-based protocol without an
    external coordinator: the post-check itself is a read, so a racer
    completing AFTER this writer's post-validate but at a lower version
    is still superseded silently from the READER's perspective for the
    interval until the racer's own post-validate fails and it retries —
    writers never lose updates (one of the two always returns False and
    recomputes), but linearizing the committed-version history for
    concurrent multi-writers on a real object store requires an
    external CAS coordinator (an Iceberg catalog swap / Delta-on-S3's
    DynamoDB commit service — here, :class:`SqliteManifestCatalog`).
    The actual writer here is the serialized foreachBatch loop — the
    file CAS protects against stale RETRIES and crashed predecessors,
    the documented failure modes."""
    while True:
        vs = _manifest_versions(out_dir)
        base_v, base_list = _active_manifest(out_dir)
        if expected_base is not None and base_list != expected_base:
            return False
        body = "\n".join(deltas) + "\n" + _COMMIT_TRAILER + "\n"
        next_v = (vs[0][0] + 1) if vs else 1
        path = os.path.join(out_dir, f"{_MANIFEST_PREFIX}{next_v:012d}")
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            continue  # lost the version race — re-check CAS and retry
        with os.fdopen(fd, "w") as f:
            f.write(body)
            f.flush()
            os.fsync(f.fileno())
        if _active_manifest(out_dir)[0] != next_v:
            return False
        # (b): any commit that landed between the pre-check snapshot and
        # our write was derived concurrently — fail and let the caller
        # recompute against the merged history instead of dropping it
        for v, name in _manifest_versions(out_dir):
            if base_v < v < next_v:
                with open(os.path.join(out_dir, name)) as f:
                    lines = f.read().splitlines()
                if lines and lines[-1] == _COMMIT_TRAILER:
                    return False
        return True


class Catalog:
    """The minimal commit surface every state writer in this engine runs
    through — the shape of an Iceberg catalog's snapshot swap, so the
    sandbox implementations map 1:1 onto a production catalog:

    - ``load(table) -> (snapshot_version, manifest)`` ≙ Iceberg REST
      ``GET /namespaces/{ns}/tables/{table}`` (read the current
      ``metadata_location`` / snapshot id; the manifest list here plays
      the role of the snapshot's manifest-list file).
    - ``swap(table, expected_version, new_manifest) -> bool`` ≙ Iceberg
      REST ``POST /tables/{table}`` with an
      ``assert-ref-snapshot-id``-style requirement: the commit succeeds
      iff the table still points at ``expected_version``; on conflict
      the writer re-reads, re-derives its delta against the winner's
      state, and retries (the standard optimistic snapshot-commit loop,
      which :func:`merge_batch` implements).

    Implementations: :class:`SqliteManifestCatalog` (external CAS — the
    linearizable multi-writer coordinator) and
    :class:`FileManifestCatalog` (versioned O_EXCL manifest files — no
    coordinator needed, single-writer plus crash/stale-retry safety)."""

    def load(self, table: str) -> tuple[int, list[str]]:
        raise NotImplementedError

    def swap(
        self, table: str, expected_version: int, new_manifest: list[str]
    ) -> bool:
        raise NotImplementedError


class FileManifestCatalog(Catalog):
    """Catalog over the versioned-manifest FILE protocol
    (:func:`_commit_manifest`): ``table`` is rooted at
    ``{root}/{table}`` using the same on-disk layout merge_batch always
    wrote (the default table name keeps byte-compatibility with existing
    state dirs). The file protocol's documented multi-writer in-flight
    window applies; writers needing linearizable history use the
    external-CAS implementation."""

    #: table whose manifests live directly in the root dir — the layout
    #: every pre-interface state dir already has
    DEFAULT_TABLE = "exact_state"

    def __init__(self, root: str):
        self.root = root

    def _dir(self, table: str) -> str:
        if table == self.DEFAULT_TABLE:
            return self.root
        return os.path.join(self.root, f"catalog_{table}")

    def load(self, table: str) -> tuple[int, list[str]]:
        return _active_manifest(self._dir(table))

    def swap(
        self, table: str, expected_version: int, new_manifest: list[str]
    ) -> bool:
        d = self._dir(table)
        os.makedirs(d, exist_ok=True)
        v, base_list = _active_manifest(d)
        if v != expected_version:
            return False
        return _commit_manifest(d, new_manifest, expected_base=base_list)


class SqliteManifestCatalog(Catalog):
    """External CAS coordinator for state manifests — the sandbox analog
    of an Iceberg catalog swap / Delta-on-S3's DynamoDB commit service,
    closing the multi-writer in-flight window the listing-based file
    protocol documents (see :func:`_commit_manifest`): each table's
    manifest pointer lives in ONE SQLite row and every swap is a
    conditional UPDATE inside a BEGIN IMMEDIATE transaction, so two
    concurrent commits against the same base version can never both
    succeed — SQLite serializes the write transactions (true
    linearizable CAS).

    On a real deployment the same interface maps onto any
    conditional-put service (Iceberg REST catalog swap, DynamoDB PutItem
    with a condition expression — see :class:`Catalog`); the protocol
    around it is unchanged. ``current()``/``commit()`` are the
    pre-interface single-table spelling, kept as aliases of
    ``load``/``swap`` on the default table."""

    def __init__(self, path: str):
        import sqlite3

        self.path = path
        con = sqlite3.connect(path, timeout=30.0)
        try:
            con.execute(
                "CREATE TABLE IF NOT EXISTS manifest ("
                "tbl TEXT PRIMARY KEY, "
                "version INTEGER NOT NULL, deltas TEXT NOT NULL)"
            )
            con.commit()
        finally:
            con.close()

    def load(self, table: str) -> tuple[int, list[str]]:
        """(version, committed delta list) — the snapshot a writer pins.
        An unknown table reads as (0, []) — the empty snapshot every
        optimistic-commit loop starts from."""
        import json
        import sqlite3

        con = sqlite3.connect(self.path, timeout=30.0)
        try:
            row = con.execute(
                "SELECT version, deltas FROM manifest WHERE tbl = ?",
                (table,),
            ).fetchone()
            if row is None:
                return 0, []
            return int(row[0]), json.loads(row[1])
        finally:
            con.close()

    def swap(
        self, table: str, expected_version: int, new_manifest: list[str]
    ) -> bool:
        """CAS: succeed iff the catalog still holds ``expected_version``
        for ``table``. Returns False on conflict — the caller re-reads
        and recomputes (same contract as :func:`_commit_manifest`)."""
        import json
        import sqlite3

        con = sqlite3.connect(self.path, timeout=30.0, isolation_level=None)
        try:
            con.execute("BEGIN IMMEDIATE")
            if int(expected_version) == 0:
                cur = con.execute(
                    "INSERT INTO manifest (tbl, version, deltas) "
                    "VALUES (?, 1, ?) "
                    "ON CONFLICT (tbl) DO UPDATE SET "
                    "version = 1, deltas = excluded.deltas "
                    "WHERE manifest.version = 0",
                    (table, json.dumps(new_manifest)),
                )
            else:
                cur = con.execute(
                    "UPDATE manifest SET version = version + 1, deltas = ? "
                    "WHERE tbl = ? AND version = ?",
                    (json.dumps(new_manifest), table, int(expected_version)),
                )
            ok = cur.rowcount == 1
            con.execute("COMMIT" if ok else "ROLLBACK")
            return ok
        finally:
            con.close()

    # ---- pre-interface single-table spelling (kept for callers/tests) --
    def current(self) -> tuple[int, list[str]]:
        return self.load(FileManifestCatalog.DEFAULT_TABLE)

    def commit(self, expected_version: int, deltas: list[str]) -> bool:
        return self.swap(
            FileManifestCatalog.DEFAULT_TABLE, int(expected_version), deltas
        )


def read_state(
    spark: SparkSession, out_dir: str, deltas: list[str] | None = None
) -> DataFrame:
    """State at the current committed snapshot, or at an explicit
    ``deltas`` list (a writer's pinned base — snapshot isolation for the
    CAS retry loop)."""
    if deltas is None:
        deltas = _committed_deltas(out_dir)
    if not deltas:
        return spark.createDataFrame([], STATE_SCHEMA)
    root = _delta_root(out_dir)
    # explicit schema: the deltas are all written with STATE_SCHEMA, and
    # without it every state read launches a parquet schema-inference job
    return spark.read.schema(STATE_SCHEMA).parquet(
        *[os.path.join(root, d) for d in deltas]
    )


def merge_batch(
    spark: SparkSession,
    batch: DataFrame,
    out_dir: str,
    catalog: SqliteManifestCatalog | None = None,
) -> DataFrame:
    """Merge one micro-batch into the exact-dedup state.

    New hashes claim cluster_id = min(doc_id of batch rows with that
    hash); existing hashes keep their original cluster (first-seen wins —
    streaming-consistent min is unobtainable without reprocessing, and
    first-seen matches dedup-pipeline semantics: the earliest crawl is
    the keeper). Returns the batch's assignments.

    Every commit runs through the :class:`Catalog` interface (the
    Iceberg-shaped ``load``/``swap`` pair): by default a
    :class:`FileManifestCatalog` over the state dir's versioned manifest
    files (byte-compatible with pre-interface state dirs); pass a
    :class:`SqliteManifestCatalog` (or any conditional-put-backed
    implementation) for the linearizable multi-writer path. The delta
    layout and the optimistic snapshot-commit retry loop are identical
    either way.

    State layout (crash-safe, bounded writes): each batch APPENDS one
    delta parquet dir holding only its NEW hashes (O(|fresh|) write, not
    an O(|state|) rewrite), then atomically commits a manifest listing
    the live deltas. A crash before the manifest commit leaves an orphan
    delta dir that readers never see (and a retried foreachBatch recomputes
    ``fresh`` against the committed state, so re-delivery adds no
    duplicates — exactly-once without rewriting). Deltas are compacted
    into one dir past COMPACT_THRESHOLD; orphans can be GC'd by deleting
    any dir not named in the manifest.
    """
    import uuid

    os.makedirs(_delta_root(out_dir), exist_ok=True)
    cat: Catalog = catalog if catalog is not None else FileManifestCatalog(out_dir)
    table = FileManifestCatalog.DEFAULT_TABLE
    hashed = (
        batch.filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.sha2("text", 256).alias("content_sha"),
        )
    )
    # optimistic-commit loop (the Iceberg pattern): pin a state snapshot,
    # derive the fresh hashes AGAINST THAT SNAPSHOT, write the delta, and
    # CAS-commit; on conflict re-derive against the winner's state (a
    # racer may have claimed some of this batch's hashes — recomputation,
    # not a name union, is what keeps one row per hash). Failed attempts
    # leave orphan delta dirs no manifest references (GC-able).
    for _attempt in range(8):
        base_v, base = cat.load(table)
        state = read_state(spark, out_dir, deltas=base)
        assigned = hashed.join(state, "content_sha", "left")
        fresh = (
            assigned.filter(F.col("cluster_id").isNull())
            .groupBy("content_sha")
            .agg(F.min("doc_id").cast("long").alias("cluster_id"))
        )
        delta_name = f"delta_{uuid.uuid4().hex}"
        fresh.write.mode("overwrite").parquet(
            os.path.join(_delta_root(out_dir), delta_name)
        )
        live = base + [delta_name]
        if len(live) > COMPACT_THRESHOLD:
            root = _delta_root(out_dir)
            compacted = f"compact_{uuid.uuid4().hex}"
            spark.read.parquet(*[os.path.join(root, d) for d in live]).coalesce(
                max(1, spark.sparkContext.defaultParallelism // 4)
            ).write.mode("overwrite").parquet(os.path.join(root, compacted))
            target = [compacted]
        else:
            target = live
        if cat.swap(table, base_v, target):
            break
    else:
        raise RuntimeError(
            "merge_batch: state commit lost the CAS race 8 times — "
            "another writer is live on this state dir"
        )
    out = hashed.join(
        read_state(spark, out_dir, deltas=cat.load(table)[1]), "content_sha"
    ).select(
        "doc_id", "cluster_id", (F.col("doc_id") == F.col("cluster_id")).alias("keep")
    )
    return out


def incremental_exact_dedup(
    spark: SparkSession, pages_path: str, out_dir: str
) -> DataFrame:
    """Batch-incremental run: rows with warc_ts > high-water mark only."""
    os.makedirs(out_dir, exist_ok=True)
    hwm_path = os.path.join(out_dir, "hwm.txt")
    pages = spark.read.parquet(pages_path)
    if os.path.exists(hwm_path):
        hwm = open(hwm_path).read().strip()
        pages = pages.filter(F.col("warc_ts") > F.lit(hwm).cast("timestamp"))
    result = merge_batch(spark, pages, out_dir)
    new_hwm = pages.agg(F.max("warc_ts")).collect()[0][0]
    if new_hwm is not None:
        with open(hwm_path, "w") as f:
            f.write(str(new_hwm))
    return result


def streaming_exact_dedup(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    schema: str = "doc_id long, url string, warc_ts timestamp, text string",
    late_threshold: str = "1 day",
    catalog: SqliteManifestCatalog | None = None,
):
    """Structured Streaming variant: returns the started StreamingQuery.

    foreachBatch applies the same merge as the batch-incremental path
    (stream/batch unification); ``catalog`` routes manifest commits
    through the external CAS coordinator (multi-writer-safe state
    sharing across pipelines).

    LATE-DATA contract: correctness for late re-crawls comes from the
    EXTERNAL state, not the watermark — merge_batch anti-joins every
    batch against the accumulated hash state, so an arbitrarily late
    duplicate still resolves first-seen-wins (asserted by
    tests/test_training_ops.py::test_streaming_dedup_arbitrarily_late_row).
    The ``withWatermark`` here therefore governs only in-stream stateful
    operators a caller composes onto the stream; in this passthrough →
    foreachBatch topology it drops nothing by itself. The operator whose
    semantics the watermark actually gates — windowed counts that close
    once the watermark passes, dropping beyond-threshold stragglers — is
    :func:`streaming_windowed_counts`, with the observed late-row
    behavior asserted in
    tests/test_training_ops.py::test_streaming_windowed_counts_watermark.
    """
    os.makedirs(out_dir, exist_ok=True)
    stream = (
        spark.readStream.schema(schema)
        .parquet(input_dir)
        .withWatermark("warc_ts", late_threshold)
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        out = merge_batch(batch.sparkSession, batch, out_dir, catalog=catalog)
        out.write.mode("append").parquet(os.path.join(out_dir, "assignments"))

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )


def streaming_windowed_counts(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    window_duration: str = "1 hour",
    late_threshold: str = "1 hour",
    schema: str = "doc_id long, url string, warc_ts timestamp, text string",
):
    """Event-time crawl-rate monitor where the watermark is LOAD-BEARING:
    pages are counted into tumbling ``window_duration`` windows on
    ``warc_ts``; append output mode emits a window only once the
    watermark (max event time seen − ``late_threshold``) passes its end,
    at which point the window's state is dropped and any straggler older
    than the watermark is DISCARDED from the count — the standard
    Structured Streaming late-data semantics, here observable: a row
    arriving within ``late_threshold`` of the stream head still lands in
    its (open) window, one arriving later than that is excluded from the
    already-finalized window. Returns the started StreamingQuery
    (availableNow trigger); finalized windows land as parquet under
    ``out_dir``/windows, and successive availableNow runs through the
    same checkpoint carry the watermark forward (the multi-batch idiom
    the streaming_dedup driver query uses)."""
    os.makedirs(out_dir, exist_ok=True)
    stream = (
        spark.readStream.schema(schema)
        .parquet(input_dir)
        .withWatermark("warc_ts", late_threshold)
    )
    counts = (
        stream.groupBy(F.window("warc_ts", window_duration))
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n_pages",
        )
    )
    return (
        counts.writeStream.outputMode("append")
        .format("parquet")
        .option("path", os.path.join(out_dir, "windows"))
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
