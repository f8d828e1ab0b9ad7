"""table_lifecycle: a manifest-published versioned documents table under a
commit / read / maintain mix, tailed by a streaming feed and curated by
the dedup operators.

Set-up writes the seeded documents table (``write_version``,
manifest-published). A cycle runs, in order:

- writes: ``merge_into_version_cow`` upsert (half updates, half
  inserts), ``delete_where_dv`` scattered delete, ``delete_where_cow``
  concentrated delete;
- reads: ``read_table`` at the latest version and at the merge's
  version (time travel), ``change_feed`` across the merge's commit;
- maintenance: ``compact_version``, then an availableNow
  ``fp_versioned_feed`` drain from a persistent checkpoint into a
  parquet sink, then ``vacuum``;
- curation: the latest snapshot exported to a parquet corpus and
  ``dd02_exact_dedup_keep``, ``dd16_minhash_dedup_keep`` and
  ``dd15_prefix_filter_jaccard`` collected over it.

Work unit: one op. Checks, outside the timed regions: every read and
change feed against an in-memory model of the op sequence, the feed
sink against the model's snapshot of every version, dd02 and dd15
against their registry oracle SQL on DuckDB, dd16 (no oracle SQL)
against invariants of the exact near-dup pairs.
"""

from __future__ import annotations

import os
import time
import zlib

import duckdb

import gen
from common import Ctx, dir_bytes, median, rows_match

SCHEMA = "doc_id BIGINT, text STRING, source STRING"


def _summary(rows: dict) -> tuple[int, int, int]:
    """(count, sum of crc32(text), sum of doc_id): what reads are checked by."""
    return (
        len(rows),
        sum(zlib.crc32(t.encode()) for t, _ in rows.values()),
        sum(rows),
    )


def _user_bytes(rows) -> int:
    return sum(8 + len(t.encode()) + len(s.encode()) for t, s in rows)


class Lakehouse:
    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.td = os.path.join(ctx.scratch, "table")
        self.sink = os.path.join(ctx.scratch, "feed_sink")
        self.ckpt = os.path.join(ctx.scratch, "feed_ckpt")
        self.corpus = os.path.join(ctx.scratch, "corpus")
        self.inputs = gen.table_ops(ctx.seed)
        self.model: dict[int, dict] = {}  # version -> {doc_id: (text, source)}
        self.changed_since_drain = 0
        self.cycle_no = 0
        self.duck = duckdb.connect()
        self.write_bytes = [0, 0]  # bytes added by commits, user bytes they carried
        self.corpus_docs: list[int] = []  # documents in each curated corpus
        self.files_per_snapshot: list[int] = []  # data files after each traced compaction
        self.pairs_out: list[int] = []  # dd15 pairs of each traced curation

    # --- model ----------------------------------------------------------

    def latest(self) -> int:
        return max(self.model)

    def _commit(self, v: int, rows: dict, changed: int) -> None:
        if v in self.model or v != self.latest() + 1:
            raise RuntimeError(f"unexpected version {v} after {self.latest()}")
        self.model[v] = rows
        self.changed_since_drain += changed

    # --- ops ------------------------------------------------------------

    def _df(self, rows):
        return self.spark.createDataFrame(rows, SCHEMA)

    def init_table(self) -> None:
        from fp_data_lakehouse_spark.sources import versioned as V
        from fp_data_lakehouse_spark.sources.pyds import register_python_sources

        register_python_sources(self.spark)
        v = V.write_version(self._df(self.inputs.initial).repartition(4), self.td, manifest=True)
        self.model[v] = {d: (t, s) for d, t, s in self.inputs.initial}
        self.changed_since_drain = len(self.inputs.initial)

    def _read(self, version=None):
        from pyspark.sql import functions as F

        from fp_data_lakehouse_spark.sources import versioned as V

        df = V.read_table(self.spark, self.td, version=version)
        r = df.agg(
            F.count(F.lit(1)),
            F.coalesce(F.sum(F.crc32(F.col("text").cast("binary"))), F.lit(0)),
            F.coalesce(F.sum("doc_id"), F.lit(0)),
        ).collect()[0]
        return tuple(int(x) for x in r)

    def _write(self, kind: str, fn, user_rows) -> int | None:
        """A commit op; returns the new version, or None if it failed."""
        before = dir_bytes(self.td) if self.ctx.tracer.enabled else 0
        op, v = self.ctx.timed(kind, fn)
        if op.ok and self.ctx.tracer.enabled:
            self.write_bytes[0] += dir_bytes(self.td) - before
            self.write_bytes[1] += _user_bytes(user_rows)
        return v if op.ok else None

    def cycle(self) -> None:
        from pyspark.sql import functions as F

        from fp_data_lakehouse_spark.sources import versioned as V

        ctx, spark, td = self.ctx, self.spark, self.td
        c = self.inputs.cycles[self.cycle_no]
        self.cycle_no += 1

        # writes
        merge = c["merge"]
        v = self._write("merge", lambda: V.merge_into_version_cow(spark, td, self._df(merge), ["doc_id"]), [r[1:] for r in merge])
        if v is not None:
            rows = dict(self.model[self.latest()])
            rows.update({d: (t, s) for d, t, s in merge})
            self._commit(v, rows, len(merge))
        v_merge = v
        dv = c["dv"]
        cur = self.model[self.latest()]
        v = self._write("delete_dv", lambda: V.delete_where_dv(spark, td, F.col("doc_id").isin(dv)), [cur[d] for d in dv if d in cur])
        if v is not None:
            dead = set(dv)
            self._commit(v, {d: r for d, r in cur.items() if d not in dead}, len(dv))
        lo, hi = c["cow"]
        cur = self.model[self.latest()]
        gone = {d for d in cur if lo <= d < hi}
        v = self._write(
            "delete_cow",
            lambda: V.delete_where_cow(spark, td, (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
            [cur[d] for d in gone],
        )
        if v is not None:
            self._commit(v, {d: r for d, r in cur.items() if d not in gone}, len(gone))

        # reads, each checked against the model
        latest = self.latest()
        op, got = ctx.timed("read", self._read)
        op.ok = op.ok and got == _summary(self.model[latest])
        if v_merge is not None:
            op, got = ctx.timed("time_travel", lambda: self._read(v_merge))
            op.ok = op.ok and got == _summary(self.model[v_merge])
        # the merge's own change set: inserts and updates
        b = v_merge if v_merge is not None else latest
        op, got = ctx.timed(
            "change_feed",
            lambda: V.change_feed(spark, td, b - 1, b, ["doc_id"])
            .groupBy("_change_type").agg(F.count(F.lit(1)), F.sum("doc_id")).collect(),
        )
        if op.ok:
            op.ok = {r[0]: (r[1], r[2]) for r in got} == self._diff(b - 1, b)

        # maintenance
        op, v = ctx.timed("compact", lambda: V.compact_version(spark, td, 2, manifest=True))
        if op.ok:
            self._commit(v, self.model[self.latest()], 0)
            if ctx.tracer.enabled:
                self.files_per_snapshot.append(V.data_file_count(td, v))
        self.drain()
        op, _ = ctx.timed("vacuum", lambda: V.vacuum(td, keep_last=2))
        op.ok = op.ok and V.versions(td) == sorted(self.model)[-2:]

        self.curate()

    def _diff(self, a: int, b: int) -> dict:
        old, new = self.model[a], self.model[b]
        out = {}
        for kind, keys in (
            ("insert", [d for d in new if d not in old]),
            ("delete", [d for d in old if d not in new]),
            ("update_postimage", [d for d in new if d in old and new[d] != old[d]]),
        ):
            if keys:
                out[kind] = (len(keys), sum(keys))
        return out

    def drain(self) -> None:
        """availableNow drain of the version feed from the persistent
        checkpoint; the sink is then checked version by version."""
        spark = self.spark

        def run():
            q = (
                spark.readStream.format("fp_versioned_feed").option("path", self.td).load()
                .writeStream.format("parquet").option("path", self.sink)
                .option("checkpointLocation", self.ckpt).trigger(availableNow=True).start()
            )
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            return [p for p in q.recentProgress]

        op, progress = self.ctx.timed("feed_drain", run)
        if not op.ok:
            return
        rows = sum(p["numInputRows"] for p in progress)
        if self.ctx.tracer.enabled:
            s = self.ctx.tracer.named("op.feed_drain")[-1]
            s.attrs.update(batches=len(progress), per_change=rows / max(self.changed_since_drain, 1))
        self.changed_since_drain = 0
        op.ok = self._sink_ok()

    def _sink_ok(self) -> bool:
        df = self.duck.sql(
            f"SELECT _version, doc_id, text FROM read_parquet('{self.sink}/*.parquet')"
        ).df()
        got = {}
        for v, g in df.groupby("_version"):
            got[int(v)] = (len(g), sum(zlib.crc32(t.encode()) for t in g["text"]), int(g["doc_id"].sum()))
        want = {v: _summary(rows) for v, rows in self.model.items()}
        if got != want:
            print(f"feed sink versions {sorted(got)} differ from the model's {sorted(want)}", flush=True)
        return got == want

    def curate(self) -> None:
        from fp_data_lakehouse_spark.operators.registry import REGISTRY
        from fp_data_lakehouse_spark.sources import versioned as V
        import fp_data_lakehouse_spark.operators.dedup  # noqa: F401  (registers dd*)

        ctx, spark = self.ctx, self.spark
        ctx.timed(
            "export",
            lambda: V.read_table(spark, self.td).write.mode("overwrite").parquet(f"{self.corpus}/documents.parquet"),
        )
        out = {}
        for kind, name in (
            ("dedup_exact", "dd02_exact_dedup_keep"),
            ("dedup_minhash", "dd16_minhash_dedup_keep"),
            ("dedup_prefix_filter", "dd15_prefix_filter_jaccard"),
        ):
            def q(spec=REGISTRY[name]):
                df = spec.builder(spark, self.corpus)
                return df.columns, df.collect()

            out[name] = ctx.timed(kind, q)
        if ctx.tracer.enabled and out["dd15_prefix_filter_jaccard"][1] is not None:
            self.pairs_out.append(len(out["dd15_prefix_filter_jaccard"][1][1]))
        self._check_dedup(out)

    def _check_dedup(self, out: dict) -> None:
        from fp_data_lakehouse_spark.operators.registry import REGISTRY

        self.duck.sql(
            f"CREATE OR REPLACE VIEW documents AS SELECT * FROM read_parquet('{self.corpus}/documents.parquet/*.parquet')"
        )
        docs = set(self.duck.sql("SELECT doc_id FROM documents").df()["doc_id"].astype(int))
        self.corpus_docs.append(len(docs))
        pairs = self.duck.sql(REGISTRY["dd15_prefix_filter_jaccard"].oracle).df()
        for name in ("dd02_exact_dedup_keep", "dd15_prefix_filter_jaccard"):
            op, res = out[name]
            if res is not None:
                op.ok = op.ok and rows_match(res[0], res[1], self.duck.sql(REGISTRY[name].oracle).df())
        op, res = out["dd16_minhash_dedup_keep"]
        if res is not None:
            op.ok = op.ok and _lsh_keep_ok([int(r[0]) for r in res[1]], docs, pairs)


def _lsh_keep_ok(kept: list[int], docs: set[int], pairs) -> bool:
    """dd16 has no oracle SQL; check it against the exact near-dup pairs
    (dd15's oracle). LSH finds a subset of those pairs, so its clusters
    only split: it keeps every document at most once, keeps at least as
    many as exact clustering would, and drops only documents that are in
    an exact pair."""
    parent = {d: d for d in docs}

    def root(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    linked = set()
    for a, b in zip(pairs["doc_id_a"].astype(int), pairs["doc_id_b"].astype(int)):
        linked |= {a, b}
        ra, rb = root(a), root(b)
        parent[max(ra, rb)] = min(ra, rb)
    exact_keep = len({root(d) for d in docs})
    ok = len(kept) == len(set(kept)) and len(kept) >= exact_keep and docs - set(kept) <= linked
    if not ok:
        print("dd16 keep-list breaks an invariant of exact near-dup clustering", flush=True)
    return ok


WRITES = ("merge", "delete_dv", "delete_cow")


def run(ctx: Ctx) -> None:
    lh = Lakehouse(ctx)
    t0 = time.perf_counter()
    lh.init_table()
    ctx.setup_s += time.perf_counter() - t0

    for _ in ctx.cycles(len(lh.inputs.cycles)):
        lh.cycle()
    ctx.work = len(ctx.ops)

    live = lh.model[lh.latest()].values()
    ops = ctx.ops

    def p50(*kinds):
        return 1000 * median(o.seconds for o in ops if o.kind in kinds)

    dedup_s = sum(o.seconds for o in ops if o.kind.startswith("dedup"))
    ctx.info.update(
        commit_p50_ms=(p50(*WRITES), "ms"),
        read_p50_ms=(p50("read", "time_travel", "change_feed"), "ms"),
        tail_p50_ms=(p50("feed_drain"), "ms"),
        bytes_stored_per_user_byte=(dir_bytes(lh.td) / _user_bytes(live), "ratio"),
        dedup_docs_per_s=(sum(lh.corpus_docs) / dedup_s, "1/s"),
    )
    if ctx.traced_run:
        _layers(ctx, lh)


def _layers(ctx: Ctx, lh: Lakehouse) -> None:
    tr, L = ctx.tracer, ctx.layers

    def ms(kind):
        return 1000 * median(s.seconds for s in tr.named(f"op.{kind}"))

    for key, kind in (
        ("merge_ms", "merge"), ("delete_dv_ms", "delete_dv"), ("delete_cow_ms", "delete_cow"),
        ("read_ms", "read"), ("time_travel_ms", "time_travel"), ("change_feed_ms", "change_feed"),
        ("compact_ms", "compact"), ("vacuum_ms", "vacuum"),
    ):
        L[f"sources.versioned.{key}"] = ms(kind)
    L["sources.versioned.bytes_written_per_user_byte"] = lh.write_bytes[0] / max(lh.write_bytes[1], 1)
    L["sources.versioned.files_per_snapshot"] = median(lh.files_per_snapshot)
    L["sources.versioned.conflict_retries"] = 0
    drains = tr.named("op.feed_drain")
    L["sources.pyds.feed.drain_ms"] = ms("feed_drain")
    L["sources.pyds.feed.batches_per_drain"] = median(s.attrs.get("batches", 0) for s in drains)
    L["sources.pyds.feed.rows_delivered_per_row_changed"] = median(s.attrs.get("per_change", 0) for s in drains)
    L["operators.dedup.exact_s"] = median(s.seconds for s in tr.named("op.dedup_exact"))
    L["operators.dedup.minhash_s"] = median(s.seconds for s in tr.named("op.dedup_minhash"))
    L["operators.dedup.prefix_filter_s"] = median(s.seconds for s in tr.named("op.dedup_prefix_filter"))
    L["operators.dedup.pairs_out"] = median(lh.pairs_out)
