"""warehouse_serving: the transcript warehouse under reads and refreshes.

Set-up writes the seeded warehouse (the star schema of the base corpus,
as generated by ``gen.star_tables``) and the refresh batches as PDFs.
A cycle is one refresh (a PDF batch:
binaryFile scan -> decode_pdf_docs -> incremental_load, which rebuilds
the batch star and the whole semester fact; tables re-opened) followed
by the 29 insight queries collected in a seeded order. Work unit: one
query.

Checks, outside the timed regions: star-schema row counts against the
generator's ground truth after every refresh; each insight against its
DuckDB twin on the first pass and on the pass after the last refresh.
"""

from __future__ import annotations

import os
import random
import time

import duckdb

import gen
from common import Ctx, dir_bytes, mean, median, noop, rows_match, tail

TABLES = ["dim_mahasiswa", "dim_matakuliah", "dim_waktu", "dim_nilai", "fact_nilai_mk", "fact_nilai_semester"]


def _write_pdfs(docs, out_dir: str, reversed_ids: set[str]) -> None:
    from fp_data_lakehouse_spark.etl.pdf import build_pdf, paginate, rewrite_objects_reversed

    os.makedirs(out_dir)
    for d in docs:
        data = build_pdf(paginate(d.text))
        if d.doc_id in reversed_ids:
            data = rewrite_objects_reversed(data)
        with open(os.path.join(out_dir, f"{d.doc_id}.pdf"), "wb") as f:
            f.write(data)


class Warehouse:
    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.wh = os.path.join(ctx.scratch, "warehouse")
        self.inputs = gen.transcripts(ctx.seed)
        self.loaded = list(self.inputs.base)
        self.duck = duckdb.connect()
        self.rng = random.Random(ctx.seed)
        self.refreshes_done = 0
        self.tables = None

    # --- inputs ---------------------------------------------------------

    def write_inputs(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        for name, cols in gen.star_tables(self.inputs.base).items():
            types = {c: pa.int32() for c, v in cols.items() if isinstance(v[0], int)}
            table = pa.table({c: pa.array(v, types.get(c)) for c, v in cols.items()})
            os.makedirs(f"{self.wh}/{name}.parquet")
            pq.write_table(table, f"{self.wh}/{name}.parquet/part-00000.parquet")
        for i, batch in enumerate(self.inputs.refreshes):
            _write_pdfs(batch, self._pdf_dir(f"refresh_{i}"), self.inputs.reversed_ids)

    def _pdf_dir(self, name: str) -> str:
        return os.path.join(self.ctx.scratch, "pdf", name)

    # --- checks ---------------------------------------------------------

    def _view(self, name: str) -> str:
        return f"read_parquet('{self.wh}/{name}.parquet/**/*.parquet')"

    def counts_ok(self) -> bool:
        want = gen.star_truth(self.loaded)
        got = {n: self.duck.sql(f"SELECT count(*) FROM {self._view(n)}").fetchone()[0] for n in want}
        if got != want:
            print(f"star counts {got} != ground truth {want}", flush=True)
        return got == want

    def insights_ok(self, results: dict) -> dict[str, bool]:
        from fp_data_lakehouse_spark.etl.insights import INSIGHTS

        for n in TABLES:
            if os.path.isdir(f"{self.wh}/{n}.parquet"):  # the semester fact appears with the first refresh
                self.duck.sql(f"CREATE OR REPLACE VIEW {n} AS SELECT * FROM {self._view(n)}")
        verdict = {}
        for name, (cols, rows) in results.items():
            verdict[name] = rows_match(cols, rows, self.duck.sql(INSIGHTS[name].sql).df())
            if not verdict[name]:
                print(f"insight {name} differs from its DuckDB twin", flush=True)
        return verdict

    # --- ops ------------------------------------------------------------

    def open_tables(self) -> None:
        self.tables = {n: self.spark.read.parquet(f"{self.wh}/{n}.parquet") for n in TABLES}

    def refresh(self) -> None:
        from fp_data_lakehouse_spark.etl.incremental import incremental_load
        from fp_data_lakehouse_spark.etl.pdf import decode_pdf_docs

        i = self.refreshes_done
        docs = decode_pdf_docs(self.spark.read.format("binaryFile").load(self._pdf_dir(f"refresh_{i}")))
        with self.ctx.tracer.span("etl.incremental.load"):
            incremental_load(self.spark, docs, self.wh)
        self.open_tables()

    def traced_refresh_layers(self) -> None:
        """Per-layer attribution of one refresh, run before the refresh op
        in traced cycles. Layer functions return lazy DataFrames, so each
        is timed by materializing its output and its input separately
        (noop sink, no cache) and subtracting."""
        from fp_data_lakehouse_spark.etl import build_fact_nilai_semester, build_star_schema
        from fp_data_lakehouse_spark.etl.extract import extract_courses, extract_students
        from fp_data_lakehouse_spark.etl.pdf import decode_pdf_docs

        tr, spark = self.ctx.tracer, self.spark
        tr.op_id += 1  # attribution work is not part of any op
        batch = self.inputs.refreshes[self.refreshes_done]
        scan = spark.read.format("binaryFile").load(self._pdf_dir(f"refresh_{self.refreshes_done}"))
        docs = decode_pdf_docs(scan)
        with tr.span("etl.pdf.decode", attribution=True) as s:
            t_in, t_out = noop(scan), noop(docs)
            s.attrs.update(decode_s=max(t_out - t_in, 0.0), files=len(batch), out_s=t_out)
        with tr.span("etl.extract", attribution=True) as s:
            students = extract_students(docs)
            t = noop(students) + noop(extract_courses(docs)) - 2 * t_out
            s.attrs.update(s=max(t, 0.0), accept_ratio=students.count() / len(batch))
        with tr.span("etl.star.build", attribution=True) as s:
            star = build_star_schema(spark, docs)
            t = sum(noop(df) for df in star.values())
            s.attrs.update(s=max(t - t_out, 0.0))
        with tr.span("etl.semester", attribution=True) as s:
            fact = spark.read.parquet(f"{self.wh}/fact_nilai_mk.parquet")
            t_in, t_out2 = noop(fact), noop(build_fact_nilai_semester(fact))
            s.attrs.update(s=max(t_out2 - t_in, 0.0))

    # --- the workload ---------------------------------------------------

    def cycle(self) -> dict:
        """One refresh, then the 29 insights; returns the insight ops and
        results for the check that follows the cycle."""
        import fp_data_lakehouse_spark.etl.incremental as inc
        from fp_data_lakehouse_spark.etl.insights import INSIGHTS

        ctx, tr = self.ctx, self.ctx.tracer
        if tr.enabled:
            self.traced_refresh_layers()
            fact_before, bytes_before = self._fact_rows(), dir_bytes(self.wh)
        real_merge = inc.merge_upsert

        def traced_merge(*a, **k):
            with tr.span("sources.sinks.merge_upsert"):
                return real_merge(*a, **k)

        inc.merge_upsert = traced_merge if tr.enabled else real_merge
        try:
            op, _ = ctx.timed("refresh", self.refresh)
        finally:
            inc.merge_upsert = real_merge
        batch = self.inputs.refreshes[self.refreshes_done]
        self.refreshes_done += 1
        seen = {d.doc_id for d in self.loaded}
        self.loaded += [d for d in batch if d.doc_id not in seen]
        if tr.enabled:
            delivered = sum(len(d.courses) for d in batch if d.nrp is not None)
            tr.named("etl.incremental.load")[-1].attrs.update(
                bytes_written=dir_bytes(self.wh) - bytes_before,
                new_row_ratio=(self._fact_rows() - fact_before) / max(delivered, 1),
            )
        if op.ok and not self.counts_ok():
            op.ok = False

        names = sorted(INSIGHTS)
        self.rng.shuffle(names)
        out = {}
        for name in names:

            def run_query(spec=INSIGHTS[name]):
                with tr.span("etl.insights.plan"):
                    df = spec.builder(self.tables)
                with tr.span("etl.insights.exec"):
                    return df.columns, df.collect()

            out[name] = ctx.timed("query", run_query)
        return out

    def check(self, out: dict) -> None:
        """Mark each insight op whose answer differs from its DuckDB twin
        on the current warehouse as failed."""
        results = {n: res for n, (op, res) in out.items() if res is not None}
        for name, ok in self.insights_ok(results).items():
            out[name][0].ok = out[name][0].ok and ok

    def _fact_rows(self) -> int:
        return self.duck.sql(f"SELECT count(*) FROM {self._view('fact_nilai_mk')}").fetchone()[0]


def run(ctx: Ctx) -> None:
    w = Warehouse(ctx)
    t0 = time.perf_counter()
    w.write_inputs()
    ctx.setup_s += time.perf_counter() - t0

    for i in ctx.cycles(len(w.inputs.refreshes)):
        out = w.cycle()
        ctx.work += len(out)
        if i == 0:
            w.check(out)  # the first pass
    if i > 0:
        w.check(out)  # the pass after the last refresh

    q = [o.seconds for o in ctx.ops if o.kind == "query"]
    q_tail, p = tail(q)
    ctx.info.update(
        query_p50_ms=(1000 * median(q), "ms"),
        query_tail_ms=(1000 * q_tail, f"ms(p{p},n={len(q)})"),
        queries_per_s=(ctx.work / sum(o.seconds for o in ctx.ops), "1/s"),
        refresh_p50_s=(median(o.seconds for o in ctx.ops if o.kind == "refresh"), "s"),
    )
    if ctx.traced_run:
        _layers(ctx)


def _layers(ctx: Ctx) -> None:
    tr, L = ctx.tracer, ctx.layers

    def attrs(name, key):
        return [s.attrs[key] for s in tr.named(name) if key in s.attrs]

    dec = tr.named("etl.pdf.decode")
    L["etl.pdf.decode_s"] = median(attrs("etl.pdf.decode", "decode_s"))
    L["etl.pdf.files_per_s"] = median(s.attrs["files"] / s.attrs["out_s"] for s in dec)
    L["etl.extract.s"] = median(attrs("etl.extract", "s"))
    L["etl.extract.accept_ratio"] = median(attrs("etl.extract", "accept_ratio"))
    L["etl.star.build_s"] = median(attrs("etl.star.build", "s"))
    L["etl.star.jobs"] = median(s.jobs for s in tr.named("etl.star.build"))
    L["etl.semester.s"] = median(attrs("etl.semester", "s"))
    loads = tr.named("etl.incremental.load")
    L["sources.sinks.write_s"] = tr.busy_s("sources.sinks.merge_upsert") / max(len(loads), 1)
    L["sources.sinks.bytes_written"] = median(attrs("etl.incremental.load", "bytes_written"))
    L["etl.incremental.load_s"] = median(s.seconds for s in loads)
    L["etl.incremental.jobs"] = median(s.jobs for s in loads)
    L["etl.incremental.new_row_ratio"] = median(attrs("etl.incremental.load", "new_row_ratio"))
    L["etl.insights.plan_ms"] = 1000 * median(s.seconds for s in tr.named("etl.insights.plan"))
    ex = tr.named("etl.insights.exec")
    L["etl.insights.exec_ms"] = 1000 * median(s.seconds for s in ex)
    L["etl.insights.jobs_per_query"] = mean(s.jobs for s in ex)
    L["etl.insights.tasks_per_query"] = mean(s.tasks for s in ex)
