"""Bitemporal document store (SURVEY §2 J; reference Crux delegation).

The reference stores schemaless documents keyed by ``:crux.db/id`` with
two time axes — valid-time and transaction-time — and exposes
  put            (db/app_db.clj:102-105, utils/auth.clj:60-67)
  put @ future-t (doc/demo-app-1.org:125-127)
  match / cas    (db/app_db.clj:102-105, utils/auth.clj:139-146)
  delete         (utils/alert.clj:30-31)
  as-of reads    (db/app_db.clj:33-43: [q], [valid-time q], [vt tt q])
  entity lookup  (db/app_db.clj:45-48)

Spark model: a **version-log table** — one row per document version —
with interval columns::

    id string, payload …, valid_from ts, valid_to ts,
    tx_from ts, tx_to ts, deleted boolean

A version is visible at (vt, tt) iff
``valid_from <= vt < valid_to AND tx_from <= tt < tx_to``. Open ends use
the far-future sentinel (reference ``:never``, utils/time.clj:75).

Scale design (100 TB): the physical table is partitioned by entity
namespace and ``date(valid_from)`` so as-of reads prune partitions; the
latest-view is a row_number window per id (one shuffle on id); writers
are append-only (new version row + interval-close row), compacted by a
periodic MERGE-style batch job — never in-place updates.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dataworks_spark.functions.timeops import NEVER


def _contains_map(dt) -> bool:
    """True if the type is, or nests, a MapType — the types xxhash64
    rejects by default (map hashing is order-sensitive, so Spark makes
    callers opt in explicitly)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dt, MapType):
        return True
    if isinstance(dt, ArrayType):
        return _contains_map(dt.elementType)
    if isinstance(dt, StructType):
        return any(_contains_map(f.dataType) for f in dt.fields)
    return False


def _hash_safe(col: Column, dt) -> Column:
    """A column usable inside xxhash64 regardless of payload type:
    map-carrying columns serialize through to_json first (deterministic
    for a given physical value — all the tiebreak needs)."""
    return F.to_json(col) if _contains_map(dt) else col


def _payload_hash(df: DataFrame, payload_cols: list[str]) -> Column:
    """THE deterministic payload tiebreak — shared by version_log's
    same-ts ordering and _apply_write's same-id-in-one-put dedup, which
    are documented to mirror each other (max hash wins in both); one
    definition so the two rules cannot drift (r10 review)."""
    return F.xxhash64(
        *[_hash_safe(F.col(c), df.schema[c].dataType) for c in payload_cols]
    )


def version_log(
    df: DataFrame,
    id_col: Column | str,
    ts_col: str,
    tombstone: Column | None = None,
) -> DataFrame:
    """Build a bitemporal version log from an append-only event stream.

    Each event is a `put` of a new document version valid from its
    timestamp until the next version of the same id (LWW semantics of
    the reference's log documents, doc/demo-app-1.org:99-104). In this
    fixture-derived log transaction time equals valid time (documents
    were transacted when they happened); `put` with a future valid-time
    (J2) makes the two differ. ``tombstone`` marks delete versions
    (J5): the doc disappears from the latest view while staying
    queryable as-of the past.

    Two events for one id at the SAME timestamp chain deterministically:
    the window breaks ts ties on a payload hash (layout-independent),
    so the survivor is a function of the data, never of partitioning —
    the earlier-hashed version gets a degenerate [ts, ts) interval
    (invisible to as_of/latest, same as Crux's same-valid-time
    supersede). Without the tiebreak a rerun of the same input could
    flip which document wins (r9 review finding).
    """
    idc = F.col(id_col) if isinstance(id_col, str) else id_col
    out = df.withColumn("id", idc)
    # NULL timestamps are rejected LOUDLY at execution: a NULL
    # valid_from makes the version invisible to every read (latest,
    # as_of, entity — all compare against valid_from) while the row
    # stays in the log — silent ingest data loss (r10 review, confirmed
    # live via the collector→sink path on a heartbeat missing its ts
    # field). Same assert_true idiom as pipeline._hash_bucket.
    ts_guard = F.assert_true(
        F.col(ts_col).isNotNull(),
        F.lit(
            f"version_log: NULL {ts_col} — the version would be invisible "
            "to every read; fix or filter the event upstream"
        ),
    )
    out = out.withColumn(ts_col, F.when(ts_guard.isNull(), F.col(ts_col)))
    payload_cols = [c for c in df.columns if c != ts_col]
    # xxhash64 rejects MapType (and any type containing one) by
    # default; a schemaless doc batch may legitimately carry map-typed
    # payload — hash those columns via to_json so the tiebreak never
    # narrows the accepted payload shapes (r9 ADVICE)
    w = Window.partitionBy("id").orderBy(
        F.col(ts_col).asc(), _payload_hash(df, payload_cols).asc()
    )
    out = (
        out.withColumn("valid_from", F.col(ts_col))
        .withColumn("valid_to", F.coalesce(F.lead(ts_col).over(w), F.lit(NEVER)))
        .withColumn("tx_from", F.col(ts_col))
        .withColumn("tx_to", F.lit(NEVER))
        .withColumn("deleted", tombstone if tombstone is not None else F.lit(False))
    )
    return out.drop(ts_col)  # superseded by valid_from/tx_from


def _payload_type_conflicts(store_df: DataFrame, new_df: DataFrame) -> dict:
    """Attributes shared by the store and an incoming batch that
    disagree on type — silently unioning an int batch column into a
    string store column would corrupt both."""
    store_t, new_t = dict(store_df.dtypes), dict(new_df.dtypes)
    return {
        c: (store_t[c], new_t[c])
        for c in store_t.keys() & new_t.keys()
        if store_t[c] != new_t[c]
    }


def _widen_union(store_df: DataFrame, retired: DataFrame, corrected: DataFrame, new: DataFrame) -> DataFrame:
    """Schemaless merge of a write's three row sets (reference docs
    define their own attributes, SURVEY §1.2): a batch may carry new
    attributes (widen the store; old rows read NULL) or omit known
    ones (NULL in the new rows); same-name attributes must keep their
    type (explicit error, never a silent cross-type union)."""
    conflicts = _payload_type_conflicts(store_df, new)
    if conflicts:
        raise ValueError(
            "batch column types conflict with the store schema: "
            + ", ".join(f"{c}: store={a} batch={b}" for c, (a, b) in sorted(conflicts.items()))
        )
    return retired.unionByName(corrected).unionByName(new, allowMissingColumns=True)


def _visible(vt: Column, tt: Column | None = None) -> Column:
    cond = (F.col("valid_from") <= vt) & (vt < F.col("valid_to"))
    if tt is not None:
        cond = cond & (F.col("tx_from") <= tt) & (tt < F.col("tx_to"))
    else:
        # no tx coordinate = current knowledge: only rows never
        # superseded by a later transaction
        cond = cond & (F.col("tx_to") == F.lit(NEVER))
    return cond


def as_of_snapshot(
    versions: DataFrame,
    valid_time: _dt.datetime | str,
    tx_time: _dt.datetime | str | None = None,
    include_deleted: bool = False,
) -> DataFrame:
    """As-of read (J7): the document version visible at the given
    bitemporal coordinates — reference query arities
    [valid-time q] / [valid-time tx-time q] (db/app_db.clj:37-43).

    Because the intervals produced by :func:`version_log` partition each
    id's timeline, interval containment alone yields ≤1 row per id — a
    filter Catalyst pushes to the scan, no window needed."""
    vt = F.lit(valid_time).cast("timestamp")
    tt = F.lit(tx_time).cast("timestamp") if tx_time is not None else None
    snap = versions.filter(_visible(vt, tt))
    if "valid_date" in versions.columns:
        # partitioned layout (save/compact): valid_from <= vt implies
        # date(valid_from) <= date(vt), and valid_date IS
        # date(valid_from) — a filter on the partition column, so the
        # scan prunes every partition after the as-of date
        # (plan-asserted in test_docs)
        snap = snap.filter(F.col("valid_date") <= F.to_date(vt))
    if not include_deleted:
        snap = snap.filter(~F.col("deleted"))
    return snap


def latest_snapshot(
    versions: DataFrame,
    include_deleted: bool = False,
    now: _dt.datetime | None = None,
) -> DataFrame:
    """Latest-per-id view (E4 / ReadMe.org:34 LWW): one
    :func:`~dataworks_spark.ops.windows.latest_per_key` pass, DESC on
    (valid_from, tx_from).

    ``now`` bounds the view in valid time: versions scheduled in the
    FUTURE (J2 put with future valid-time, demo-app-1.org:125-127) are
    excluded until their time arrives — Crux's ``db`` without an
    explicit valid-time is as-of *now*, not max-valid-time.
    :meth:`DocumentStore.latest` always passes its clock; the raw
    function leaves ``now=None`` (unbounded) for fixture-derived logs
    whose timestamps are all in the past."""
    from dataworks_spark.ops.windows import latest_per_key

    cur = versions.filter(
        (F.col("tx_to") == F.lit(NEVER))  # current knowledge
        & (F.col("valid_from") < F.col("valid_to"))  # non-degenerate interval
    )
    if now is not None:
        cur = cur.filter(F.col("valid_from") <= F.lit(now).cast("timestamp"))
    snap = latest_per_key(
        cur,
        key=["id"],
        order_by=[F.col("valid_from").desc(), F.col("tx_from").desc()],
    )
    if not include_deleted:
        snap = snap.filter(~F.col("deleted"))
    return snap


class StoreRef:
    """Thread-safe shared holder for an evolving :class:`DocumentStore`
    — streaming sinks swap in new store states per batch while readers
    (alert scheduler, query surfaces) always see the current one. The
    in-process stand-in for a table-format's commit log."""

    def __init__(self, store: "DocumentStore"):
        import threading

        self._store = store
        self._lock = threading.Lock()

    @property
    def store(self) -> "DocumentStore":
        with self._lock:
            return self._store

    def swap(self, fn) -> "DocumentStore":
        """Atomically replace the store with fn(current)."""
        with self._lock:
            self._store = fn(self._store)
            return self._store


class DocumentStore:
    """Mutable document-store facade over a version-log DataFrame.

    Write ops mirror the reference transaction vocabulary (SURVEY §2 J):
    ``put`` (J1/J2), ``match`` (J3), ``cas`` (J4), ``delete`` (J5).
    Writes are **append-only**: a put appends the new version and closes
    the previous version's validity interval by appending nothing —
    visibility is computed from the *latest tx_from per (id, overlapping
    interval)* at read time; a periodic :meth:`compact` rewrites closed
    intervals physically (the MERGE analog). ``await-tx`` (J6) is a
    no-op: Spark writes are synchronous.
    """

    #: logical-plan growth bound for the in-process write chain (r16):
    #: every _apply_write / put_log references ``self.versions`` in ~3
    #: subtrees (retire, correct, next-version lookup), so an n-write
    #: chain re-analyzes ~3^n copies of the base plan at EVERY later
    #: action — Catalyst analysis, not job work (measured: a 4-write
    #: chain's four as_of probes cost 80 s in the r16 suite; the r15
    #: bitemporal property file hit 826 s the same way). After this many
    #: consecutive writes the new version log is marked
    #: localCheckpoint(eager=False): the ≤3^k-copy tree is planned once,
    #: the checkpoint materializes with the caller's next action (no
    #: extra job), and later writes/reads plan against a single leaf.
    #: A parquet-backed store keeps scan pushdown for the first k
    #: writes; past that the tree is unions-of-joins and pushdown was
    #: already gone — periodic compaction is this store's documented
    #: contract, this automates the in-process form of it.
    _TRUNCATE_EVERY = 2

    def __init__(self, versions: DataFrame, now_fn=None, _writes: int = 0):
        self.versions = versions
        self._now = now_fn or _dt.datetime.utcnow
        self._writes = _writes

    def _evolved(self, versions: DataFrame) -> "DocumentStore":
        """Successor store after one write, with depth-bounded lineage
        (see _TRUNCATE_EVERY)."""
        n = self._writes + 1
        if n >= self._TRUNCATE_EVERY:
            return DocumentStore(
                versions.localCheckpoint(eager=False), self._now
            )
        return DocumentStore(versions, self._now, _writes=n)

    # -- reads ---------------------------------------------------------
    def as_of(self, valid_time, tx_time=None) -> DataFrame:
        return as_of_snapshot(self.versions, valid_time, tx_time)

    def latest(self) -> DataFrame:
        """Current documents as-of NOW in valid time (J2: a
        future-scheduled version stays invisible here until its
        valid-time arrives — r9 review fix; only :meth:`as_of` honored
        this before)."""
        return latest_snapshot(self.versions, now=self._now())

    def entity(self, doc_id: str) -> DataFrame:
        """Point lookup (B8, db/app_db.clj:45-48)."""
        return self.latest().filter(F.col("id") == F.lit(doc_id))

    def history(self, doc_id: str, with_corrections: bool = False) -> DataFrame:
        """Entity history (Crux `entity-history` — the reference's
        bitemporal audit surface): every version of the doc ordered by
        valid_from then tx_from. By default only current knowledge
        (latest correction per valid interval); ``with_corrections``
        includes superseded tx rows for a full audit trail."""
        h = self.versions.filter(F.col("id") == F.lit(doc_id))
        if not with_corrections:
            h = h.filter(F.col("tx_to") == F.lit(NEVER))
        return h.orderBy(F.col("valid_from").asc(), F.col("tx_from").asc())

    # -- writes --------------------------------------------------------
    def put(self, docs: DataFrame, valid_time: _dt.datetime | None = None) -> "DocumentStore":
        """Upsert new versions (J1); a future ``valid_time`` schedules
        visibility (J2, demo-app-1.org:125-127). ``docs`` must carry an
        ``id`` column plus payload columns matching the store schema."""
        return self._apply_write(docs, valid_time, tombstone=False)

    def delete(self, ids: DataFrame, valid_time: _dt.datetime | None = None) -> "DocumentStore":
        """Bitemporal delete (J5): append a tombstone version; the doc
        vanishes from latest/as-of-after views but history remains."""
        payload_cols = [
            c for c in self.versions.columns
            if c not in {"id", "valid_from", "valid_to", "tx_from", "tx_to", "deleted"}
        ]
        tomb = ids.select("id")
        for c in payload_cols:
            tomb = tomb.withColumn(c, F.lit(None).cast(self.versions.schema[c].dataType))
        return self._apply_write(tomb, valid_time, tombstone=True)

    def match_put(
        self,
        docs: DataFrame,
        expected: DataFrame,
        on_payload: list[str],
        valid_time: _dt.datetime | None = None,
    ) -> "DocumentStore":
        """Optimistic precondition (J3, utils/alert.clj:21-27): apply the
        put only for ids whose *current* version matches ``expected`` on
        the given payload columns — the reference's create-vs-update race
        detection and alert claim. Implemented as a semi-join of the put
        set against the matching current versions (no driver round-trip).
        Payload comparison is NULL-SAFE (``<=>``): the reference's match
        compares whole documents including nil, and a schemaless store
        legitimately holds NULL for absent/pre-widening attributes — a
        plain equi-join would silently never match them (r9 review fix)."""
        current = self.latest().select("id", *on_payload)
        exp = expected.select("id", *on_payload)
        cond = current["id"] == exp["id"]
        for c in on_payload:
            cond = cond & current[c].eqNullSafe(exp[c])
        ok_ids = current.join(exp, on=cond, how="left_semi")
        return self.put(docs.join(ok_ids.select("id"), on="id", how="left_semi"), valid_time)

    cas = match_put  # J4 compare-and-set (utils/auth.clj:139-146) — same mechanics

    # -- internals -----------------------------------------------------
    def _apply_write(self, docs: DataFrame, valid_time, tombstone: bool) -> "DocumentStore":
        """Bitemporal upsert of one version per id at valid-time ``vt``
        (Crux put semantics, the MERGE analog expressed as joins so it
        distributes):

        1. the current version *covering* vt (valid_from <= vt <
           valid_to, tx-current) is retired (tx_to = now — the old
           belief stays queryable at earlier tx coordinates, J7) and
           re-asserted with validity shortened to end at vt;
        2. the new version's validity runs from vt to the *next* known
           version's valid_from (a put earlier in valid-time than an
           existing future-dated version must NOT override it —
           property-tested against the brute-force interpreter);
        3. versions entirely before or after vt are untouched.

        Append-only rows keep the 100 TB write path a blind append +
        periodic compaction, never an in-place update."""
        now = self._now()
        vt = valid_time or now
        vtl = F.lit(vt).cast("timestamp")
        nowl = F.lit(now).cast("timestamp")
        # two rows for one id in a single put would create two identical
        # current intervals whose latest-view winner depended on
        # partition order — the nondeterminism class version_log's
        # same-ts tiebreak closed in r9. Keep ONE row per id by the
        # mirrored deterministic rule (max payload hash wins, matching
        # version_log where the hash-ascending LAST event keeps the
        # open interval). map payloads hash via to_json (_hash_safe).
        payload_cols = [c for c in docs.columns if c != "id"]
        if payload_cols:
            w = Window.partitionBy("id").orderBy(
                _payload_hash(docs, payload_cols).desc()
            )
            docs = (
                docs.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        else:
            docs = docs.dropDuplicates(["id"])
        ids = docs.select("id").distinct()

        marked = self.versions.join(
            ids.withColumnRenamed("id", "__uid"),
            on=F.col("id") == F.col("__uid"),
            how="left",
        )
        covering = (
            F.col("__uid").isNotNull()
            & (F.col("tx_to") == F.lit(NEVER))
            & (F.col("valid_from") <= vtl)
            & (vtl < F.col("valid_to"))
        )
        retired = marked.withColumn(
            "tx_to", F.when(covering, nowl).otherwise(F.col("tx_to"))
        ).drop("__uid")
        corrected = (
            marked.filter(covering)
            .withColumn("valid_to", vtl)
            .withColumn("tx_from", nowl)
            .withColumn("tx_to", F.lit(NEVER).cast("timestamp"))
            .drop("__uid")
        )

        # the new version holds until the next future version, if any
        next_vf = (
            self.versions.filter(F.col("tx_to") == F.lit(NEVER))
            .join(ids, on="id", how="left_semi")
            .filter(F.col("valid_from") > vtl)
            .groupBy("id")
            .agg(F.min("valid_from").alias("__next_vf"))
        )
        new = (
            docs.join(next_vf, on="id", how="left")
            .withColumn("valid_from", vtl)
            .withColumn("valid_to", F.coalesce(F.col("__next_vf"), F.lit(NEVER).cast("timestamp")))
            .drop("__next_vf")
            .withColumn("tx_from", nowl)
            .withColumn("tx_to", F.lit(NEVER).cast("timestamp"))
            .withColumn("deleted", F.lit(tombstone))
        )
        if (
            set(new.columns) != set(self.versions.columns)
            or _payload_type_conflicts(self.versions, new)
        ) and self.versions.isEmpty():
            # schema-on-first-write, mirroring put_log: a rowless store
            # adopts the first batch's payload shape whether the
            # declared schema differs in column SET or in a column's
            # type — falling through to _widen_union would permanently
            # carry the stale schema's columns as all-NULL. The cheap
            # schema comparisons run first so the isEmpty job is only
            # paid when a difference exists.
            return self._evolved(new)
        merged = _widen_union(self.versions, retired, corrected, new)
        return self._evolved(merged)

    def put_log(self, df: DataFrame, ts_col: str = "ts") -> "DocumentStore":
        """Bulk-append an event-log batch: one version per row at its
        own timestamp (the streaming-ingest write shape, §3.2). ``df``
        carries ``id`` + payload + ``ts_col``.

        Set-based, no per-timestamp loop, and semantically EQUIVALENT to
        applying :meth:`put` once per event in timestamp order at this
        one transaction time: intervals are computed within the batch by
        one window pass; every tx-current version whose interval
        contains a batch timestamp — the covering version AND any
        future-scheduled (J2) version the batch straddles — is retired
        (tx_to = now) and re-asserted closed at the earliest such
        timestamp; every batch version is capped at the next known
        version's valid_from (within batch or scheduled), so no two
        current versions ever overlap (r9 ADVICE fix; previously a
        batch straddling a scheduled version corrupted both)."""
        now = self._now()
        nowl = F.lit(now).cast("timestamp")
        new = version_log(df, "id", ts_col).withColumn(
            "tx_from", nowl
        )
        if (
            set(new.columns) != set(self.versions.columns)
            or _payload_type_conflicts(self.versions, new)
        ) and self.versions.isEmpty():
            # schema-on-first-write: a rowless store adopts the first
            # batch's payload shape (the reference is schemaless — docs
            # define their own attributes, SURVEY §1.2) whether the
            # declared schema differs in column SET or a column's type;
            # a non-empty store widens at the union below instead. The
            # cheap schema checks run first so the isEmpty job is paid
            # only when a difference exists (mirrors _apply_write).
            return self._evolved(new)
        # Set-based equivalent of applying put() SEQUENTIALLY per batch
        # event (all at this one tx time). The previous formulation only
        # corrected the version covering the batch's FIRST timestamp and
        # only capped the batch's LAST version at the next scheduled
        # valid_from beyond __last_ts — so a batch straddling a
        # future-scheduled version (scheduled T2, batch ts T1<T2 and
        # T3>T2) left the T1 version overlapping [T2,T3) AND the
        # scheduled version open alongside T3's: two current versions
        # per id (r9 ADVICE medium). The general rules, applied to
        # EVERY version / EVERY batch row:
        #
        # 1. every tx-current version whose validity interval contains
        #    a batch timestamp is retired (tx_to = now) and re-asserted
        #    with validity shortened to end at the EARLIEST such
        #    timestamp — covering version and straddled scheduled
        #    versions alike, one uniform predicate;
        # 2. every batch version holds until min(next batch event for
        #    the id [version_log's window], first tx-current valid_from
        #    strictly after its own) — so no batch interval ever crosses
        #    a scheduled version's start.
        #
        # Both are id-keyed joins of the version log against the batch —
        # per-id fan-out is versions-per-id × batch-rows-per-id, and at
        # 100 TB the id-partitioned layout co-locates them.
        cur = self.versions.filter(F.col("tx_to") == F.lit(NEVER))
        bts = df.select("id", F.col(ts_col).alias("__bts"))
        corr_ts = (
            cur.select("id", "valid_from", "valid_to")
            .join(bts, on="id")
            .filter(
                (F.col("valid_from") <= F.col("__bts"))
                & (F.col("__bts") < F.col("valid_to"))
            )
            .groupBy("id", "valid_from", "valid_to")
            .agg(F.min("__bts").alias("__c_ts"))
        )
        # (id, valid_from, valid_to) keys tx-current rows uniquely (two
        # identical current intervals would already be corruption);
        # retired ancestors sharing the key stay untouched via the
        # tx_to == NEVER guard below
        marked = self.versions.join(
            corr_ts, on=["id", "valid_from", "valid_to"], how="left"
        )
        hit = F.col("__c_ts").isNotNull() & (F.col("tx_to") == F.lit(NEVER))
        retired = marked.withColumn(
            "tx_to", F.when(hit, nowl).otherwise(F.col("tx_to"))
        ).drop("__c_ts")
        corrected = (
            marked.filter(hit)
            .withColumn("valid_to", F.col("__c_ts"))
            .withColumn("tx_from", nowl)
            .withColumn("tx_to", F.lit(NEVER).cast("timestamp"))
            .drop("__c_ts")
        )
        caps = (
            new.select("id", "valid_from")
            .join(
                cur.select("id", F.col("valid_from").alias("__s_vf")), on="id"
            )
            .filter(F.col("__s_vf") > F.col("valid_from"))
            .groupBy("id", "valid_from")
            .agg(F.min("__s_vf").alias("__cap"))
        )
        new = (
            new.join(caps, on=["id", "valid_from"], how="left")
            .withColumn(
                "valid_to",
                F.when(
                    F.col("__cap") < F.col("valid_to"), F.col("__cap")
                ).otherwise(F.col("valid_to")),
            )
            .drop("__cap")
        )
        merged = _widen_union(self.versions, retired, corrected, new)
        return self._evolved(merged)

    def compact(self, path: str | None = None, spark=None) -> "DocumentStore":
        """Rewrite the accumulated version log (the periodic MERGE/
        rewrite job, SURVEY §4 #3).

        With a ``path``, the compaction is DURABLE and executed: the log
        is rewritten to parquet partitioned by (namespace,
        date(valid_from)) — the 100 TB layout — and the returned store
        reads from the rewritten files (lineage truncated to a scan).
        For the append/streaming workload prefer
        :meth:`compact_incremental`, which rewrites only the partitions
        the delta touched (IO proportional to the batch, not the
        corpus). With Delta/Iceberg jars both become row-level MERGE
        with snapshot isolation; without them (this image) these are
        the honest executable forms. Without a path, falls back to an
        in-process localCheckpoint."""
        if path is None:
            return DocumentStore(self.versions.localCheckpoint(), self._now)
        spark = spark or self.versions.sparkSession
        self.save(path)
        return DocumentStore.load(spark, path, self._now)

    def compact_incremental(
        self, path: str, since: _dt.datetime, spark=None
    ) -> "DocumentStore":
        """Partition-scoped incremental compaction: rewrite ONLY the
        (namespace, valid_date) partitions containing rows written or
        retired at-or-after ``since`` (the previous compaction's
        timestamp), leaving every other partition's files untouched.

        Exactness: every mutation in this store stamps the transaction
        clock — new/corrected rows carry ``tx_from = now``, retirements
        set ``tx_to = now`` — so "changed since the last compaction" is
        a precise predicate, not a heuristic, and the full current
        content of a changed partition is available in this store's
        version log. The write uses Spark's dynamic partition overwrite
        (``partitionOverwriteMode=dynamic``): ``mode("overwrite")``
        replaces only the partitions present in the written frame.

        This is the incremental form of :meth:`compact` for the
        append/streaming workload (§3.2 `put_log`): at 100 TB a nightly
        batch touches a bounded set of (namespace, date) partitions and
        pays IO proportional to the delta, not the corpus. With
        Delta/Iceberg jars the same job becomes a row-level MERGE with
        snapshot isolation; dynamic overwrite is the honest pure-parquet
        equivalent at partition granularity (readers see partition-level
        atomicity only).
        """
        spark = spark or self.versions.sparkSession
        sincel = F.lit(since).cast("timestamp")
        never = F.lit(NEVER).cast("timestamp")
        with_parts = self.versions.withColumn(
            "namespace", F.element_at(F.split("id", "/"), 1)
        ).withColumn("valid_date", F.to_date("valid_from"))
        changed_parts = (
            with_parts.filter(
                (F.col("tx_from") >= sincel)
                | ((F.col("tx_to") != never) & (F.col("tx_to") >= sincel))
            )
            .select("namespace", "valid_date")
            .dropDuplicates()
        )
        # full current content of every changed partition (broadcast
        # semi-join: the changed-partition list is bounded by the delta,
        # never by the corpus)
        to_write = with_parts.join(
            F.broadcast(changed_parts), on=["namespace", "valid_date"], how="left_semi"
        )
        # per-write option, NOT a session conf flip: a concurrent write
        # on the same SparkSession (plausible under streaming
        # foreachBatch alongside other jobs) must never plan under — or
        # have restored mid-flight — this write's overwrite mode
        to_write.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("namespace", "valid_date").parquet(path)
        from dataworks_spark.session import write_table_meta

        write_table_meta(spark, path, extra={"writer": "doc_store"})
        # re-root on the durable files with the EXPLICIT merged schema the
        # writer already holds — not mergeSchema, whose footer sweep over
        # every file in the dataset would make per-epoch read cost grow
        # with corpus size instead of the delta (mergeSchema remains the
        # cold-open path in load()/open_partitioned(), where no in-memory
        # schema exists). Older, narrower files in untouched partitions
        # surface the widened columns as NULL under the explicit schema.
        reread = spark.read.schema(to_write.schema).parquet(path)
        return DocumentStore(reread.drop("valid_date", "namespace"), self._now)

    # -- persistence (A5 document-store sink) ---------------------------
    def save(self, path: str) -> None:
        """Persist the version log as parquet, partitioned by entity
        namespace + date(valid_from) so as-of reads prune partitions
        (SURVEY §4 #3; plan-asserted in test_docs)."""
        df = self.versions.withColumn(
            "namespace", F.element_at(F.split("id", "/"), 1)
        ).withColumn("valid_date", F.to_date("valid_from"))
        df.write.mode("overwrite").partitionBy("namespace", "valid_date").parquet(path)
        # stamp the post-write data fingerprint (r15 — the durable-state
        # face of the ANN-sidecar contract): load()/open_partitioned()
        # verify it, so a version log mutated OUTSIDE the engine can
        # never silently serve as-of answers built on edited history
        from dataworks_spark.session import write_table_meta

        write_table_meta(df.sparkSession, path, extra={"writer": "doc_store"})

    @classmethod
    def open_partitioned(cls, spark, path: str) -> DataFrame:
        """Read-only serving view over a partitioned save: keeps the
        (namespace, valid_date) partition columns so
        :func:`as_of_snapshot` and namespace filters prune at the
        source. ``mergeSchema`` because schemaless widening plus
        incremental compaction legitimately leaves older (narrower)
        parquet files in untouched partitions — a single-footer schema
        would silently drop the widened columns.

        Fingerprint-gated (r15): the ``_dw_meta.json`` stamp written by
        :meth:`save`/:meth:`compact_incremental` is verified against
        the files' recomputed fingerprint — an out-of-band mutation of
        the version log refuses instead of serving rewritten history as
        bitemporal truth. Stampless (pre-r15/foreign) paths load."""
        from dataworks_spark.session import verify_table_meta

        verify_table_meta(spark, path, what="document store version log")
        return spark.read.option("mergeSchema", "true").parquet(path)

    @classmethod
    def load(cls, spark, path: str, now_fn=None) -> "DocumentStore":
        """Reopen as a mutable store: partition columns are dropped —
        they are derived storage layout, not document payload.
        ``mergeSchema`` for the same reason as :meth:`open_partitioned`;
        fingerprint-gated the same way (r15)."""
        from dataworks_spark.session import verify_table_meta

        verify_table_meta(spark, path, what="document store version log")
        df = spark.read.option("mergeSchema", "true").parquet(path)
        return cls(df.drop("valid_date", "namespace"), now_fn)
