"""The four workloads. Each one:

- ``prepare``: generates its inputs from the seed and computes the oracle
  answers (benchmark-only work, not part of ``setup_s``);
- ``prebuild``: program-side set-up the workload needs before serving
  (counted in ``setup_s``);
- ``run_pass``: one pass of public calls, each wrapped in ``op(kind, fn,
  check)``; ``fn`` is timed, ``check`` runs after the pass, outside the
  timed interval;
- ``layer_ratios``: the outcome/attempt ratios of the traced run.

Package functions are always called through their module
(``tablelog.table_scan``), so the traced mode can swap them for spans.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from oracle import brute_topk, duck, expect, expect_frame, jaccard, ols, shingles


@dataclass
class Ctx:
    spark: object
    root: str
    seed: int
    tracer: object
    small: bool = False
    notes: dict = field(default_factory=dict)

    @property
    def data(self) -> str:
        return os.path.join(self.root, "data")

    def rng(self, stream: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, stream])


def _dir_bytes(path: str) -> int:
    total = 0
    for dp, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dp, f))
    return total


def _parquet_files(path: str) -> dict[str, int]:
    """data file name -> row count (from the footer)."""
    d = os.path.join(path, "data")
    if not os.path.isdir(d):
        return {}
    return {
        f: pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
        for f in os.listdir(d)
        if f.endswith(".parquet")
    }


# ---------------------------------------------------------------- stats_flow
class StatsFlow:
    name = "stats_flow"
    modules = ("plans.pipeline", "operators.na", "sources.readers")
    NUMERIC = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]

    def __init__(self, n_rows: int = 600_000):
        self.n = n_rows

    def prepare(self, ctx: Ctx) -> None:
        if ctx.small:
            self.n = 6_000
        rng = ctx.rng(1)
        li = gen.star_schema(rng, self.n)["lineitem"]
        m_qty, m_disc = gen.null_mask(rng, self.n)
        qty = li["l_quantity"].to_numpy()
        disc = li["l_discount"].to_numpy()
        tbl = pa.table(
            {
                "l_rowid": pa.array(np.arange(self.n), pa.int64()),
                "l_quantity": pa.array(qty, mask=m_qty),
                "l_extendedprice": li["l_extendedprice"],
                "l_discount": pa.array(disc, mask=m_disc),
                "l_tax": li["l_tax"],
                "l_returnflag": li["l_returnflag"],
                "l_linestatus": li["l_linestatus"],
            }
        )
        gen.write_table(tbl, os.path.join(ctx.data, "lineitem.parquet"))
        self.input_rows = self.n

        # oracle: fill (mean) -> arcsinh(price, qty) -> gelman -> OLS
        cols = {
            "l_quantity": np.where(m_qty, np.nanmean(np.where(m_qty, np.nan, qty)), qty),
            "l_extendedprice": li["l_extendedprice"].to_numpy(),
            "l_discount": np.where(m_disc, np.nanmean(np.where(m_disc, np.nan, disc)), disc),
            "l_tax": li["l_tax"].to_numpy(),
        }
        for c in ("l_extendedprice", "l_quantity"):
            cols[c] = np.arcsinh(cols[c])
        std = {c: (v - v.mean()) / (2.0 * v.std(ddof=1)) for c, v in cols.items()}
        X = np.column_stack([std["l_quantity"], std["l_discount"], std["l_tax"]])
        self.want_params, self.want_bse = ols(std["l_extendedprice"], X)

    def prebuild(self, ctx: Ctx) -> None:
        pass

    def run_pass(self, ctx: Ctx, op) -> None:
        from pyspark.sql import functions as F

        from simple_data_workflow_spark.operators import na
        from simple_data_workflow_spark.plans import pipeline
        from simple_data_workflow_spark.sources import readers

        spark, tr = ctx.spark, ctx.tracer

        def flow():
            li = readers.load_table(spark, ctx.data, "lineitem").drop("l_rowid")
            res = pipeline.e2e_pipeline(
                spark,
                df=li,
                na_strategy="fi",
                cat_cols=["l_returnflag", "l_linestatus"],
                transform_cols=["l_extendedprice", "l_quantity"],
                transform_func="arcsinh",
                endog="l_extendedprice",
                exog=["l_quantity", "l_discount", "l_tax"],
            )
            st = res["standardize"]
            row = tr.force(
                res,
                lambda: st.agg(
                    *[F.avg(c).alias(f"mu_{c}") for c in self.NUMERIC],
                    *[F.stddev_samp(c).alias(f"sd_{c}") for c in self.NUMERIC],
                ).first(),
            )
            return res.model, row

        def check_flow(out):
            model, row = out
            expect(
                model.regressors == ["l_quantity", "l_discount", "l_tax"],
                f"regressors {model.regressors}",
            )
            expect(np.allclose(model.params, self.want_params, rtol=1e-6, atol=1e-9),
                   f"OLS params {model.params} vs numpy {self.want_params}")
            expect(np.allclose(model.bse, self.want_bse, rtol=1e-6, atol=1e-12),
                   f"OLS bse {model.bse} vs numpy {self.want_bse}")
            for c in self.NUMERIC:
                expect(abs(row[f"mu_{c}"]) < 1e-9, f"standardized {c} mean {row[f'mu_{c}']}")
                expect(abs(row[f"sd_{c}"] - 0.5) < 1e-9, f"standardized {c} sd {row[f'sd_{c}']}")

        def mice():
            li = readers.load_table(spark, ctx.data, "lineitem").select(
                "l_rowid", "l_quantity", "l_discount"
            )
            out = na.wrangle_na(
                li,
                strategy="mice",
                cols=["l_quantity", "l_discount"],
                n_burnin=2,
                n_imputations=2,
                n_spread=1,
                row_id="l_rowid",
            )
            return tr.force(
                out,
                lambda: out.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("l_quantity").isNull().cast("long")).alias("na_q"),
                    F.sum(F.col("l_discount").isNull().cast("long")).alias("na_d"),
                ).first(),
            )

        def check_mice(row):
            expect(row["n"] == 2 * self.n, f"mice rows {row['n']}, want {2 * self.n}")
            expect(row["na_q"] == 0 and row["na_d"] == 0, f"mice left NULLs {row}")

        op("pipeline", flow, check_flow)
        op("mice", mice, check_mice)

    def layer_ratios(self, ctx: Ctx) -> dict:
        return {}


# -------------------------------------------------------------- llm_curation
class LlmCuration:
    name = "llm_curation"
    modules = ("llmdata.text", "llmdata.dedup", "llmdata.ann_index", "sources.readers")

    def __init__(self, n_docs: int = 2_000, n_vecs: int = 2_000, n_batches: int = 2,
                 batch: int = 16):
        self.n_docs, self.n_vecs = n_docs, n_vecs
        self.n_batches, self.batch = n_batches, batch
        self.recall_floor = 0.8
        self.dup_floor = 0.9

    def prepare(self, ctx: Ctx) -> None:
        import __spark_entry__ as entry

        if ctx.small:
            self.n_docs, self.n_vecs = 300, 600
        docs, self.truth = gen.documents(ctx.rng(2), self.n_docs, dup_fraction=0.05)
        gen.write_table(docs, os.path.join(ctx.data, "documents.parquet"))
        self.texts = dict(zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()))
        emb, self.corpus = gen.embeddings(ctx.rng(3), self.n_vecs)
        gen.write_table(emb, os.path.join(ctx.data, "embeddings.parquet"))
        qt, q = gen.ann_queries(ctx.rng(4), self.corpus, self.n_batches * self.batch)
        self.queries = []
        for b in range(self.n_batches):
            sl = slice(b * self.batch, (b + 1) * self.batch)
            gen.write_table(qt.slice(sl.start, self.batch), os.path.join(ctx.data, f"queries{b}.parquet"))
            ids = qt["vec_id"].to_numpy()[sl]
            top = brute_topk(self.corpus, q[sl], 5)
            self.queries.append((f"queries{b}", dict(zip(ids.tolist(), top.tolist()))))
        con = duck(ctx.data, ["documents"])
        self.want_stats = con.sql(entry.DOC_STATS_SQL).fetchdf()
        self.want_gopher = con.sql(entry.GOPHER_QUALITY_SQL).fetchdf()
        con.close()
        self.input_rows = docs.num_rows + self.n_batches * self.batch

    def prebuild(self, ctx: Ctx) -> None:
        from simple_data_workflow_spark.llmdata import ann_index
        from simple_data_workflow_spark.sources import readers

        self.index = os.path.join(ctx.root, "ivf", "idx")
        emb = readers.load_table(ctx.spark, ctx.data, "embeddings")
        ann_index.build_ivf_index(emb, self.index, n_lists=16, files_per_index=8)

    def run_pass(self, ctx: Ctx, op) -> None:
        from pyspark.sql import functions as F

        from simple_data_workflow_spark.llmdata import ann_index, dedup, text
        from simple_data_workflow_spark.sources import readers

        spark, tr = ctx.spark, ctx.tracer
        docs = readers.load_table(spark, ctx.data, "documents")

        def stats():
            out = text.analyze_documents(docs)
            return tr.force(out, lambda: out.select(
                "doc_id",
                F.col("n_tokens").cast("long").alias("n_tokens"),
                F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
                "stopword_ratio", "punct_ratio", "quality", "lang_guess", "fingerprint",
            ).toPandas())

        def gopher():
            out = text.gopher_quality(docs, min_words=20)
            return tr.force(out, lambda: out.select(
                "doc_id",
                F.col("n_words").cast("long").alias("n_words"),
                "mean_word_len", "symbol_ratio", "alpha_word_ratio",
                F.col("stopword_hits").cast("long").alias("stopword_hits"),
                "passes",
            ).toPandas())

        holder = {}

        def candidates():
            pairs = dedup.minhash_lsh_candidates(docs, num_hashes=32, bands=8)
            holder["pairs"] = pairs
            return tr.force(pairs, lambda: pairs.toPandas())

        def check_candidates(pdf):
            got = {(min(a, b), max(a, b)) for a, b in zip(pdf["id_a"], pdf["id_b"])}
            hit = sum((src, dup) in got for dup, src in self.truth.items())
            expect(hit >= self.dup_floor * len(self.truth),
                   f"candidates cover {hit}/{len(self.truth)} injected pairs")
            if tr.enabled:
                good = sum(jaccard(shingles(self.texts[a]), shingles(self.texts[b])) >= 0.5
                           for a, b in got)
                ctx.notes.setdefault("cand", []).append((good, len(got)))

        def kept():
            out = dedup.dedup_by_cluster(docs, holder["pairs"])
            return tr.force(out, lambda: out.select("doc_id").toPandas())

        def check_kept(pdf):
            removed = set(self.texts) - set(pdf["doc_id"])
            dups = set(self.truth)
            expect(removed <= dups, f"{len(removed - dups)} original documents removed")
            recall = len(removed & dups) / len(dups)
            expect(recall >= self.dup_floor, f"dup recall {recall:.3f}")
            ctx.notes.setdefault("dup_recall", []).append(recall)

        op("analyze_documents", stats, lambda pdf: expect_frame(pdf, self.want_stats, "analyze_documents"))
        op("gopher_quality", gopher, lambda pdf: expect_frame(pdf, self.want_gopher, "gopher_quality"))
        op("minhash_candidates", candidates, check_candidates)
        op("dedup_by_cluster", kept, check_kept)
        for name, truth in self.queries:
            def search(name=name):
                q = readers.load_table(spark, ctx.data, name)
                out = ann_index.ivf_index_search(spark, self.index, q, k=5, n_probe=4)
                return tr.force(out, lambda: out.select("query_id", "neighbor_id").toPandas())

            def check_search(pdf, truth=truth):
                got: dict = {}
                for qid, nid in zip(pdf["query_id"], pdf["neighbor_id"]):
                    got.setdefault(int(qid), set()).add(int(nid))
                expect(set(got) == set(truth), "search answered a different query set")
                rec = np.mean([len(got[k] & set(v)) / 5.0 for k, v in truth.items()])
                expect(rec >= self.recall_floor, f"IVF recall@5 {rec:.3f} below {self.recall_floor}")
                ctx.notes.setdefault("recall", []).append(rec)

            op("ivf_index_search", search, check_search)

    def layer_ratios(self, ctx: Ctx) -> dict:
        tr = ctx.tracer
        good = sum(g for g, _ in ctx.notes.get("cand", []))
        total = sum(n for _, n in ctx.notes.get("cand", []))
        idx_bytes = _dir_bytes(os.path.join(self.index, "data"))
        spans = tr.spans_named("llmdata.ann_index.ivf_index_search")
        calls = sum(not s.materialize for s in spans)
        read = sum(tr.span_stats(s)["input_bytes"] for s in spans)
        return {
            "llmdata.candidate_precision": good / total if total else 0.0,
            "llmdata.dup_recall": float(np.mean(ctx.notes.get("dup_recall", [0.0]))),
            "llmdata.ivf_recall_at_5": float(np.mean(ctx.notes.get("recall", [0.0]))),
            "llmdata.ivf_scan_fraction": read / (idx_bytes * calls) if calls and idx_bytes else 0.0,
        }


# ------------------------------------------------------------- lakehouse_dml
class LakehouseDml:
    name = "lakehouse_dml"
    modules = ("sources.tablelog", "sources.readers", "streaming.tablelog_source")
    FP_SQL = """
        SELECT COUNT(*) AS n,
               CAST(SUM(l_rowid) AS BIGINT) AS s_id,
               CAST(SUM(l_rowid * CAST(ROUND(l_tax * 100) AS BIGINT)) AS BIGINT) AS s_tax,
               CAST(SUM(l_rowid * CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS s_qty,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS s_price,
               CAST(SUM(l_rowid * ascii(l_returnflag)) AS BIGINT) AS s_flag
        FROM {src}
    """

    def __init__(self, n_rows: int = 60_000):
        self.n = n_rows
        self.pass_no = 0

    def prepare(self, ctx: Ctx) -> None:
        if ctx.small:
            self.n = 6_000
        rng = ctx.rng(5)
        li = gen.star_schema(rng, self.n)["lineitem"]
        li = li.add_column(0, "l_rowid", pa.array(np.arange(1, self.n + 1), pa.int64()))
        self.plan = plan = gen.dml_plan(rng, self.n)
        keys = np.array(plan.merge_keys)
        new = keys > self.n
        base = li.take(pa.array(np.where(new, 0, keys - 1)))
        upd = base.set_column(0, "l_rowid", pa.array(keys, pa.int64()))
        upd = upd.set_column(
            upd.column_names.index("l_quantity"), "l_quantity",
            pa.array(np.minimum(base["l_quantity"].to_numpy() + 1.0, 50.0)),
        )
        extra = gen.star_schema(ctx.rng(6), max(self.n // 20, 10))["lineitem"]
        extra = extra.add_column(
            0, "l_rowid", pa.array(np.arange(extra.num_rows) + 10 * self.n + 1, pa.int64())
        )
        self.src_bytes = 0
        for name, t in (("lineitem", li), ("merge_batch", upd), ("append_batch", extra)):
            self.src_bytes += gen.write_table(t, os.path.join(ctx.data, f"{name}.parquet"))
        self.input_rows = li.num_rows + upd.num_rows + extra.num_rows

        # DuckDB replay of the same statements
        con = duck(ctx.data, ["lineitem", "merge_batch", "append_batch"])
        con.sql("CREATE TABLE t AS SELECT * FROM lineitem")
        self.want_counts, self.changed = {}, {}

        def count():
            return con.sql("SELECT COUNT(*) FROM t").fetchone()[0]

        def range_sum(col):
            lo, hi = plan.key_range
            return con.sql(
                f"SELECT COUNT(*), CAST(SUM(CAST(ROUND({col} * 100) AS BIGINT)) AS BIGINT) "
                f"FROM t WHERE l_rowid BETWEEN {lo} AND {hi}"
            ).fetchone()

        self.want_scan, self.want_format = {}, {}
        self.want_counts["commit"] = count()
        self.changed["delete"] = con.sql(f"SELECT COUNT(*) FROM t WHERE {plan.delete_where}").fetchone()[0]
        con.sql(f"DELETE FROM t WHERE {plan.delete_where}")
        self.want_counts["delete"] = count()
        self.want_scan["delete"] = range_sum("l_extendedprice")
        set_sql = ", ".join(f"{k} = {v}" for k, v in plan.update_set.items())
        self.changed["update"] = con.sql(f"SELECT COUNT(*) FROM t WHERE {plan.update_where}").fetchone()[0]
        con.sql(f"UPDATE t SET {set_sql} WHERE {plan.update_where}")
        self.want_counts["update"] = count()
        self.want_scan["update"] = range_sum("l_extendedprice")
        self.want_format["update"] = range_sum("l_tax")
        self.changed["merge"] = len(plan.merge_keys)
        con.sql("DELETE FROM t WHERE l_rowid IN (SELECT l_rowid FROM merge_batch)")
        con.sql("INSERT INTO t SELECT * FROM merge_batch")
        self.want_counts["merge"] = count()
        con.sql("INSERT INTO t SELECT * FROM append_batch")
        self.want_counts["append"] = count()
        self.want_scan["append"] = range_sum("l_extendedprice")
        self.want_counts["compact"] = count()
        self.want_scan["compact"] = range_sum("l_extendedprice")
        self.want_format["compact"] = range_sum("l_tax")
        self.want_fp = tuple(con.sql(self.FP_SQL.format(src="t")).fetchone())
        con.close()

    def prebuild(self, ctx: Ctx) -> None:
        from simple_data_workflow_spark.streaming.tablelog_source import TablelogStreamDataSource

        ctx.spark.dataSource.register(TablelogStreamDataSource)

    def run_pass(self, ctx: Ctx, op) -> None:
        from pyspark.sql import functions as F

        from simple_data_workflow_spark.sources import readers, tablelog

        spark, tr, plan = ctx.spark, ctx.tracer, self.plan
        self.pass_no += 1
        path = os.path.join(ctx.root, "lake", f"p{self.pass_no}", "li")
        versions: dict[str, int] = {}
        lo, hi = plan.key_range
        trace = tr.enabled
        if trace:
            ctx.notes.setdefault("rewrite", [0, 0])

        def step(kind, fn):
            """One statement that commits a version; its row count is checked."""
            before = _parquet_files(path) if trace and kind in self.changed else None

            def run():
                versions[kind] = fn()
                return versions[kind]

            op(kind, run, lambda v: self._check_count(ctx, path, kind, v))
            if before is not None:
                added = {f: n for f, n in _parquet_files(path).items() if f not in before}
                ctx.notes["rewrite"][0] += sum(added.values())
                ctx.notes["rewrite"][1] += self.changed[kind]

        def scan(stage):
            m0 = tr.mark()
            df = tablelog.table_scan(spark, path, filters=[("l_rowid", ">=", lo), ("l_rowid", "<=", hi)])
            out = tr.force(df, lambda: tuple(df.agg(
                F.count(F.lit(1)),
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")),
            ).first()))
            spans = (m0, tr.mark())

            def check(got):
                want = self.want_scan[stage]
                expect(got == want, f"pruned scan after {stage}: {got} vs oracle {want}")
                if trace:
                    read = sum(tr.span_stats(s)["input_bytes"]
                               for s in tr.spans_named("sources.tablelog.table_scan", *spans))
                    files = tablelog.table_files_df(spark, path, version=versions[stage]).toPandas()
                    ctx.notes.setdefault("scan_frac", []).append(read / files["size_bytes"].sum())

            return out, check

        def fmt_read(stage):
            # the key range, pushed down to the reader's file pruning
            with tr.span("streaming.tablelog_source.batch_read", "streaming") as sp:
                row = (
                    spark.read.format("tablelog").option("path", path).load()
                    .where((F.col("l_rowid") >= lo) & (F.col("l_rowid") <= hi))
                    .agg(F.count(F.lit(1)), F.sum(F.round(F.col("l_tax") * 100).cast("long")))
                    .first()
                )
            if trace:
                ctx.notes.setdefault("fmt", []).append((sp, row[0]))

            def check(got):
                want = self.want_format[stage]
                expect(got == want, f"format read after {stage}: {got} vs oracle {want}")

            return tuple(row), check

        def read_op(kind, fn, stage):
            held = {}

            def run():
                value, held["check"] = fn(stage)
                return value

            op(kind, run, lambda v: held["check"](v))

        def commit():
            src = readers.load_table(spark, ctx.data, "lineitem")
            return tablelog.table_commit(src.repartitionByRange(8, "l_rowid"), path)

        def merge():
            upd = readers.load_table(spark, ctx.data, "merge_batch")
            return tablelog.table_merge_upsert(spark, path, upd, key="l_rowid")

        def append():
            extra = readers.load_table(spark, ctx.data, "append_batch")
            return tablelog.table_commit(extra, path)

        step("commit", commit)
        step("delete", lambda: tablelog.table_delete_where(spark, path, plan.delete_where))
        read_op("table_scan", scan, "delete")
        step("update", lambda: tablelog.table_update_where(spark, path, plan.update_set, plan.update_where))
        read_op("table_scan", scan, "update")
        read_op("format_read", fmt_read, "update")
        step("merge", merge)
        step("append", append)
        read_op("table_scan", scan, "append")
        step("compact", lambda: tablelog.table_compact(spark, path, num_files=4))
        read_op("table_scan", scan, "compact")
        read_op("format_read", fmt_read, "compact")

        def final():
            df = tablelog.table_read(spark, path)
            df.createOrReplaceTempView("pb_final")
            return tr.force(df, lambda: tuple(spark.sql(self.FP_SQL.format(src="pb_final")).first()))

        def check_final(got):
            expect(got == self.want_fp, f"final snapshot fingerprint {got} vs replay {self.want_fp}")
            audit = tablelog.table_verify(spark, path, check_rows=True)
            expect(audit["ok"], f"table_verify: {audit['issues']}")

        op("table_read", final, check_final)
        if trace:
            ctx.notes.setdefault("stored", []).append(_dir_bytes(path) / self.src_bytes)

    def _check_count(self, ctx: Ctx, path: str, kind: str, version: int) -> None:
        from simple_data_workflow_spark.sources import tablelog

        got = tablelog.table_row_count(ctx.spark, path, version=version)
        want = self.want_counts[kind]
        expect(got == want, f"{kind}: {got} rows at v{version}, replay has {want}")

    def layer_ratios(self, ctx: Ctx) -> dict:
        tr = ctx.tracer
        rw = ctx.notes.get("rewrite", [0, 0])
        fmt = ctx.notes.get("fmt", [])
        read = sum(tr.span_stats(sp)["input_records"] for sp, _ in fmt)
        returned = sum(n for _, n in fmt)
        return {
            "sources.rewrite_rows_per_changed_row": rw[0] / rw[1] if rw[1] else 0.0,
            "sources.scan_bytes_fraction": float(np.mean(ctx.notes.get("scan_frac", [0.0]))),
            "sources.bytes_stored_per_input_byte": float(np.mean(ctx.notes.get("stored", [0.0]))),
            "streaming.rows_read_per_row_returned": read / returned if returned else 0.0,
        }


# ---------------------------------------------------------------- olap_star
class OlapStar:
    name = "olap_star"
    modules = ("plans.relational", "sources.readers")
    QUERIES = [
        "q1_pricing_summary", "q3_top_orders", "q5_region_revenue", "q6_forecast_revenue",
        "q9_product_profit", "window_nav_battery", "sessionize_events",
    ]

    def __init__(self, base_rows: int = 150_000, factor: int = 10):
        self.base, self.factor = base_rows, factor

    def prepare(self, ctx: Ctx) -> None:
        import __spark_entry__ as entry

        if ctx.small:
            self.base, self.factor = 6_000, 2
        tables = gen.enlarge(gen.star_schema(ctx.rng(7), self.base), self.factor)
        gen.write_tables(tables, ctx.data)
        self.input_rows = sum(t.num_rows for t in tables.values())
        sql = entry.oracle_sql()
        con = duck(ctx.data, tables)
        self.want = {q: con.sql(sql[q]).fetchdf() for q in self.QUERIES}
        con.close()

    def prebuild(self, ctx: Ctx) -> None:
        pass

    def run_pass(self, ctx: Ctx, op) -> None:
        from simple_data_workflow_spark.plans import relational

        for q in self.QUERIES:
            def query(q=q):
                df = getattr(relational, q)(ctx.spark, ctx.data)
                return ctx.tracer.force(df, df.toPandas)

            op(q, query, lambda pdf, q=q: expect_frame(pdf, self.want[q], q))

    def layer_ratios(self, ctx: Ctx) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (StatsFlow, LlmCuration, LakehouseDml, OlapStar)}
RATIO_METRICS = (
    "sources.rewrite_rows_per_changed_row",
    "sources.scan_bytes_fraction",
    "sources.bytes_stored_per_input_byte",
    "streaming.rows_read_per_row_returned",
    "llmdata.candidate_precision",
    "llmdata.dup_recall",
    "llmdata.ivf_recall_at_5",
    "llmdata.ivf_scan_fraction",
)
