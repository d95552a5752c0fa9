"""The benchmark's workloads: ``curate`` and ``queries``.

Each workload drives the engine from outside through its public API only
(``pipeline.runner``, ``pipeline.stages.with_*``, ``pipeline.model``,
``pipeline.mvcc`` and the ``queries.QUERIES`` registry). A workload
generates and caches its inputs from the seed, runs one warm-up op per
set-up cycle, runs one closed-loop pass at a time and checks every pass's
output. A traced run of either workload then measures every layer the same
way (``Workload.layers``), so a layer that a workload's passes never enter
still reports a measured time.
"""

from __future__ import annotations

import concurrent.futures
import json
import math
import os
import shutil
import statistics
import time
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq

# sizes settled so that one run fits the benchmark's time budget
CURATE_FILES, CURATE_BUCKETS = 1200, 64  # 64 = the CLI's default --buckets
CORPUS_SHARDS = 8  # parquet files per corpus, so the scan spreads over the cores
MODEL_SAMPLE_DOCS = 500
# the corpus-global stage probes of a traced run use the corpus's first
# shard: one pass of those stages costs about 40 s at any corpus size
PROBE_SHARD = "part-000.parquet"
SPAN_DEDUP_BP, CDC_DUP_BP, REPO_MIN_KEEP_BP = 8000, 3000, 2500
# the MVCC sequence of a traced run
MVCC_FILES, MVCC_BUCKETS = 160, 16
QUERY_SF = 0.005
# one or two queries per operator family, weighted to the ROADMAP's hot leaves
QUERY_NAMES = (
    "revenue_by_nation",     # engine: scan -> broadcast join -> decimal agg
    "rolling_features",      # engine.features + functions.calculations windows
    "hypertable_rollup",     # operators.temporal
    "ann_cosine_topk",       # operators.similarity
    "multimodal_features",   # operators.multimodal
    "budget_sample",         # operators.sampling
    "bpe_merge_candidates",  # operators.bpe
    "unigram_surprisal",     # operators.lm
    "dedup_clusters",        # operators.dedup MinHash/LSH + connected components
    "line_repetition",       # operators.dedup/lm line + bigram repetition
)
CACHE_KEEP = 24  # cached input sets kept per kind (oldest evicted)


def dir_bytes(path: str | Path) -> tuple[int, int]:
    """(files, bytes) of the regular files under ``path``."""
    n = size = 0
    for base, _, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(base, f))
    return n, size


def row_digest(df, cols=None):
    """An ``Observation`` of ``df``'s row count and order-insensitive row
    digest, and the observed frame. Row hashes are summed as
    decimal(38,0): a plain ``sum(xxhash64(...))`` overflows bigint under
    ANSI mode."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    h = F.xxhash64(*[F.col(c) for c in (cols or df.columns)]).cast("decimal(38,0)")
    return obs, df.observe(obs, F.count(F.lit(1)).alias("n"), F.sum(h).alias("h"))


def materialize(df, cols=None) -> tuple[int, str]:
    """Run ``df`` fully into the ``noop`` sink (no column is pruned) and
    return its row count and row digest, taken on the same pass."""
    obs, observed = row_digest(df, cols)
    observed.write.format("noop").mode("overwrite").save()
    got = obs.get
    return int(got["n"]), str(got["h"])


def _cached(cache: Path, key: str, build) -> Path:
    """``cache/key``, built once by ``build(tmp_dir) -> meta`` and kept
    with its ``meta.json``; the oldest entries of the same kind are evicted."""
    d = cache / key
    if not (d / "meta.json").exists():
        shutil.rmtree(d, ignore_errors=True)
        tmp = cache / f".tmp-{key}-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        meta = build(tmp)
        (tmp / "meta.json").write_text(json.dumps(meta))
        os.replace(tmp, d)
        kind = key.split("-")[0]
        entries = sorted(cache.glob(f"{kind}-*"), key=lambda p: p.stat().st_mtime)
        for old in entries[:-CACHE_KEEP]:
            shutil.rmtree(old, ignore_errors=True)
    return d


def cached_corpus(cache: Path, files: int, seed: int, labels: bool = False) -> Path:
    """``generate_corpus(files, seed)`` as parquet shards, cached by
    (files, seed), with the independent pandas labeler's keep labels and
    sha256 beside it when ``labels``."""
    from data_curator_spark.pipeline.corpus import generate_corpus
    from data_curator_spark.pipeline.reference_labeler import label_corpus

    def build(tmp: Path) -> dict:
        t0 = time.time()
        pdf = generate_corpus(files, seed)
        gen_s = time.time() - t0
        (tmp / "data").mkdir()
        for i, part in enumerate(np.array_split(np.arange(len(pdf)), CORPUS_SHARDS)):
            pq.write_table(pa.Table.from_pandas(pdf.iloc[part], preserve_index=False),
                           tmp / "data" / f"part-{i:03d}.parquet")
        if labels:
            lab = label_corpus(pdf)[["repo", "path", "keep", "sha256_original"]]
            lab.to_parquet(tmp / "labels.parquet", index=False)
        return {"generate_s": gen_s, "rows": len(pdf), "bytes": dir_bytes(tmp / "data")[1]}

    return _cached(cache, f"corpus-{files}-{seed}{'-labelled' if labels else ''}", build)


def cached_tables(cache: Path, seed: int) -> Path:
    """The query tables at ``QUERY_SF`` for ``seed``, cached by (sf, seed)."""
    from perfbench.tables import write_tables

    def build(tmp: Path) -> dict:
        t0 = time.time()
        rows = write_tables(str(tmp), QUERY_SF, seed)
        return {"generate_s": time.time() - t0, "rows": sum(rows.values()),
                "bytes": dir_bytes(tmp)[1]}

    return _cached(cache, f"tables-{QUERY_SF}-{seed}", build)


def read_meta(d: Path) -> dict:
    return json.loads((d / "meta.json").read_text())


class Workload:
    name = ""

    def __init__(self, spark_getter, tracer, work: Path, cache: Path, seed: int):
        self._spark = spark_getter
        self.tracer = tracer
        self.work = work
        self.cache = cache
        self.seed = seed
        self.checks: list[str] = []  # failed-check descriptions
        self.last: list[str] = []  # the latest pass's output directories
        # job group -> input rows of each corpus-global stage probe
        self.probe_rows: dict[str, int] = {}

    @property
    def spark(self):
        return self._spark()

    def fail(self, what: str) -> None:
        self.checks.append(what)

    def fresh_dir(self, name: str) -> str:
        p = self.work / name
        shutil.rmtree(p, ignore_errors=True)
        return str(p)

    def reference(self) -> int:
        """Untimed work between set-up and the timed window; returns the
        checks made."""
        return 0

    def new_pass(self, *names: str) -> list[str]:
        """Drop the previous pass's output; fresh directories for this one.
        The last pass's output stays for the layer probes."""
        for p in self.last:
            shutil.rmtree(p, ignore_errors=True)
        self.last = [self.fresh_dir(n) for n in names]
        return self.last

    def output_bytes(self) -> int:
        return sum(dir_bytes(p)[1] for p in self.last)

    # ---- per-layer probes (traced run only) ----

    def layers(self, report: dict) -> dict:
        """Every layer's metrics, given the untraced window's summary: the
        pipeline layers on the seed's ``curate`` corpus, the MVCC sequence
        on a small corpus, and the registered queries."""
        corpus = cached_corpus(self.cache, CURATE_FILES, self.seed, labels=True)
        data = str(corpus / "data")
        secs = [sum(self.tracer.timed("sources.scan", materialize, df)[1]
                    for df in self.inputs()) for _ in range(3)]
        out = {"sources.scan_s": statistics.median(secs)}
        stages, chain_s = self.stage_layers(data)
        out.update(stages)
        pipeline_s, manifest = self.pipeline_s(data, report)
        out["runner.write_commit_s"] = pipeline_s - chain_s
        out.update(self.manifest_layers(manifest))
        out.update(self.model_layers(data))
        out.update(self.global_stage_layers(corpus / "data" / PROBE_SHARD))
        out.update(self.mvcc_layers(str(cached_corpus(self.cache, MVCC_FILES, self.seed) / "data")))
        out.update(self.query_layers(report))
        return out

    def pipeline_s(self, data: str, report: dict) -> tuple[float, str]:
        """``run_pipeline``'s time on ``data`` (best of 2) and the manifest
        it wrote."""
        from data_curator_spark.pipeline.runner import run_pipeline

        best = math.inf
        for _ in range(2):
            out, man = self.fresh_dir("layers-out"), self.fresh_dir("layers-man")
            best = min(best, self.tracer.timed("run_pipeline", run_pipeline, self.spark,
                                               data, out, man, n_buckets=CURATE_BUCKETS)[1])
        return best, man

    def query_layers(self, report: dict) -> dict:
        """Each selected query once, into ``noop``."""
        from data_curator_spark.queries import QUERIES

        tables = str(cached_tables(self.cache, self.seed))
        return {f"query.{name}_s": self.tracer.timed(
                    f"query.{name}", lambda: materialize(QUERIES[name](self.spark, tables)))[1]
                for name in QUERY_NAMES}

    def mvcc_layers(self, data: str) -> dict:
        """The MVCC history sequence over ``data``: run with half the buckets
        failed, resume, backfill, three full reads, compact, expire, vacuum;
        each call's time, file counts, and checks against a clean run."""
        from data_curator_spark.pipeline import mvcc
        from data_curator_spark.pipeline.runner import OUTPUT_COLS

        sp, tr, nb = self.spark, self.tracer, MVCC_BUCKETS
        cols = ["bucket", *OUTPUT_COLS]
        run = mvcc.run_pipeline_mvcc
        out, man = self.fresh_dir("mvcc-clean"), self.fresh_dir("mvcc-clean-man")
        run(sp, data, out, man, n_buckets=nb)
        clean = materialize(mvcc.read_current(sp, out, man), cols)

        out, man = self.fresh_dir("mvcc-out"), self.fresh_dir("mvcc-man")
        t: dict[str, float] = {}
        _, t["run_crash"] = tr.timed("mvcc.run_crash", run, sp, data, out, man,
                                     n_buckets=nb, fail_buckets=set(range(1, nb, 2)))
        res, t["resume"] = tr.timed("mvcc.resume", run, sp, data, out, man, n_buckets=nb)
        pre = res["snapshot_id"]
        _, t["backfill"] = tr.timed("mvcc.backfill", run, sp, data, out, man,
                                    n_buckets=nb, reprocess_buckets=set(range(0, nb, 4)))
        data_files = dir_bytes(out)[0]
        cur, t["read_current"] = tr.timed(
            "mvcc.read_current", lambda: materialize(mvcc.read_current(sp, out, man), cols))
        snap, t["read_snapshot"] = tr.timed(
            "mvcc.read_snapshot", lambda: materialize(mvcc.read_snapshot(sp, out, man, pre), cols))
        diff, t["snapshot_diff"] = tr.timed(
            "mvcc.snapshot_diff", lambda: materialize(mvcc.snapshot_diff(sp, out, man, pre)))
        _, t["compact"] = tr.timed("mvcc.compact", mvcc.compact, sp, out, man)
        files_after_compact, before = dir_bytes(out)
        _, t["expire_snapshots"] = tr.timed("mvcc.expire_snapshots", mvcc.expire_snapshots,
                                            sp, out, man, keep_last=1)
        _, t["vacuum"] = tr.timed("mvcc.vacuum", mvcc.vacuum, sp, out, man, min_age_sec=0)
        if cur != clean:
            self.fail(f"mvcc: resumed table digest {cur} != clean run {clean}")
        if snap != clean:
            self.fail(f"mvcc: pre-backfill snapshot digest {snap} != recorded {clean}")
        if diff[0] != 0:
            self.fail(f"mvcc: identical backfill produced a {diff[0]}-row diff")
        m = {f"mvcc.{k}_s": v for k, v in t.items()}
        m["mvcc.data_files"] = data_files
        m["mvcc.files_after_compact"] = files_after_compact
        m["mvcc.bytes_reclaimed"] = before - dir_bytes(out)[1]
        return m

    def per_file_steps(self):
        """The per-file stage chain as steps built from the public stage
        functions, in the order ``run_stages`` applies them."""
        from pyspark.sql import functions as F

        from data_curator_spark.pipeline import stages as S

        def model_scores(df):
            df = df.withColumn("__gate", S.heuristics_pass_expr() & ~S.vendored_path_expr())
            return S.with_model_scores(df, self.spark, gate=F.col("__gate")).drop("__gate")

        return [
            ("heuristics", S.with_heuristics),
            ("model_scores", model_scores),
            ("scrub", lambda df: S.with_scrub(df, pre_redacted="secret_redacted")
             .drop("secret_redacted")),
            ("decision", S.with_decision),
        ]

    @staticmethod
    def chain(df, steps):
        for _, step in steps:
            df = step(df)
        return df

    def stage_layers(self, data: str, reps: int = 2) -> tuple[dict, float]:
        """Self time of each per-file stage: differences between the
        best-of-``reps`` times (plan building included) of consecutive
        cumulative prefixes run into ``noop``. Also returns the full
        chain's time, and checks its output equals ``run_stages``'s."""
        from data_curator_spark.pipeline.stages import run_stages

        raw = self.spark.read.parquet(data)
        steps = self.per_file_steps()
        best: dict[str, float] = {}
        for _ in range(reps):
            for k, (name, _) in enumerate(steps, 1):
                got, secs = self.tracer.timed(
                    f"stages.{name}", lambda: materialize(self.chain(raw, steps[:k])))
                best[name] = min(best.get(name, secs), secs)
        cols = self.chain(raw, steps).columns
        if materialize(run_stages(raw, self.spark), cols) != got:
            self.fail("layers: stage prefix chain differs from run_stages output")
        out, prev = {}, 0.0
        for name, _ in steps:
            out[f"stages.{name}_s"] = best[name] - prev
            prev = best[name]
        return out, prev

    def global_stage_layers(self, shard: Path) -> dict:
        """Each corpus-global stage appended alone to the per-file chain on
        one corpus shard; its self time is that run minus the chain alone."""
        from data_curator_spark.pipeline import stages as S

        rows = pq.ParquetFile(shard).metadata.num_rows
        raw = self.spark.read.parquet(str(shard))
        steps = self.per_file_steps()
        base = self.tracer.timed("stages.probe_base",
                                 lambda: materialize(self.chain(raw, steps)))[1]
        out = {}
        for key, stage in (
            ("stages.near_dup_s", S.with_near_dup),
            ("stages.span_dedup_s", lambda d: S.with_span_dedup(d, max_bp=SPAN_DEDUP_BP)),
            ("stages.cdc_dedup_s", lambda d: S.with_cdc_dedup(d, max_bp=CDC_DUP_BP)),
            ("stages.repo_demotion_s",
             lambda d: S.with_repo_demotion(d, min_keep_bp=REPO_MIN_KEEP_BP)),
        ):
            with self.tracer.span(key[:-2]) as rec:
                materialize(stage(self.chain(raw, steps)))
            out[key] = rec["end"] - rec["start"] - base
            self.probe_rows[rec["group"]] = rows
            self.spark.catalog.clearCache()
        return out

    @staticmethod
    def model_layers(data: str) -> dict:
        """Docs/s of the two in-process model kernels on a fixed sample."""
        from data_curator_spark.pipeline.model import build_bigram_lm, build_langid_model

        docs = pd.read_parquet(data, columns=["content"])["content"]
        docs = docs.iloc[:MODEL_SAMPLE_DOCS].tolist()
        langid, lm = build_langid_model(), build_bigram_lm()
        out = {}
        for key, fn in (("model.langid_docs_per_s", langid.predict),
                        ("model.lm_docs_per_s", lm.log_perplexity)):
            n, t0 = 0, time.perf_counter()
            while n == 0 or time.perf_counter() - t0 < 0.5:
                fn(docs)
                n += len(docs)
            out[key] = n / (time.perf_counter() - t0)
        return out

    def manifest_layers(self, manifest: str) -> dict:
        from data_curator_spark.pipeline.runner import completed_buckets, latest_snapshot_id

        return {
            key: statistics.median(
                self.tracer.timed(key[:-2], fn, self.spark, manifest)[1] for _ in range(3))
            for key, fn in (("runner.completed_buckets_s", completed_buckets),
                            ("runner.latest_snapshot_id_s", latest_snapshot_id))
        }


class Curate(Workload):
    """``run_pipeline`` in the overwrite layout with the CLI's default flags."""

    name = "curate"

    def prepare_inputs(self) -> dict:
        self.corpus = cached_corpus(self.cache, CURATE_FILES, self.seed, labels=True)
        self.data = str(self.corpus / "data")
        self.labels = pd.read_parquet(self.corpus / "labels.parquet").set_index(["repo", "path"])
        return read_meta(self.corpus)

    def inputs(self) -> list:
        return [self.spark.read.parquet(self.data)]

    def warmup(self) -> int:
        """One untimed, checked job: the stages and the runner's write path
        are hot by the first timed pass. Returns the checks made."""
        self.run_pass(-1)
        return 1

    def run_pass(self, i: int) -> dict[str, float]:
        from data_curator_spark.pipeline.runner import run_pipeline

        out, man = self.new_pass("curate-out", "curate-man")
        res, secs = self.tracer.timed("run_pipeline", run_pipeline, self.spark,
                                      self.data, out, man, n_buckets=CURATE_BUCKETS)
        self.check_output(out, res)
        return {"run_pipeline": secs}

    def check_output(self, out: str, res: dict) -> None:
        """Read back with pyarrow, independently of Spark, and compare with
        the reference labeler."""
        from data_curator_spark.pipeline.reference_labeler import f1_score

        got = (
            pads.dataset(out, format="parquet", partitioning="hive")
            .to_table(columns=["repo", "path", "keep", "sha256_original",
                               "sha256_scrubbed", "scrub_rules_fired"])
            .to_pandas()
            .set_index(["repo", "path"])
        )
        n = len(self.labels)
        if len(got) != n or res["rows_total"] != n or not got.index.isin(self.labels.index).all():
            self.fail(f"curate: {len(got)} output rows do not match {n} input files")
            return
        ref = self.labels.loc[got.index]
        f1 = f1_score(ref["keep"].to_numpy(bool), got["keep"].to_numpy(bool))
        if f1 < 0.99:
            self.fail(f"curate: keep F1 {f1:.4f} < 0.99 against reference_labeler")
        if not (got["sha256_original"] == ref["sha256_original"]).all():
            self.fail("curate: sha256_original differs from the input content's hash")
        untouched = got["scrub_rules_fired"].map(len) == 0
        if not (got.loc[untouched, "sha256_scrubbed"]
                == got.loc[untouched, "sha256_original"]).all():
            self.fail("curate: sha256_scrubbed != sha256_original on an unscrubbed row")

    def pipeline_s(self, data: str, report: dict) -> tuple[float, str]:
        """The untraced window's median pass, and the last pass's manifest."""
        return report["job_s"], self.last[1]


class Queries(Workload):
    """The selected registered queries, each forced through ``noop``."""

    name = "queries"

    def prepare_inputs(self) -> dict:
        d = cached_tables(self.cache, self.seed)
        self.tables = str(d)
        self.expected: dict[str, tuple[int, str]] = {}
        return read_meta(d)

    def inputs(self) -> list:
        return [self.spark.read.parquet(f"{self.tables}/{t}.parquet")
                for t in ("lineitem", "orders", "events", "documents", "embeddings")]

    def query(self, name: str):
        from data_curator_spark.queries import QUERIES

        return QUERIES[name](self.spark, self.tables)

    def warmup(self) -> int:
        materialize(self.query(QUERY_NAMES[0]))
        return 0

    def _oracle_rows(self) -> dict[str, tuple[list, list]]:
        import duckdb

        from data_curator_spark.queries import ORACLES
        from tools.check_oracle import TABLES

        con = duckdb.connect(config={"threads": 1})
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.tables}/{t}.parquet')")
            out = {}
            for name in QUERY_NAMES:
                rel = con.sql(ORACLES[name])
                out[name] = (list(rel.columns), rel.fetchall())
            return out
        finally:
            con.close()

    def reference(self) -> int:
        """Each query once against its DuckDB oracle (row count, column
        names, value multiset); records the checked row count and digest
        every timed pass must reproduce. DuckDB runs on one thread beside
        Spark. Returns checks made."""
        from tools.check_oracle import multiset

        with concurrent.futures.ThreadPoolExecutor(1) as pool:
            oracle = pool.submit(self._oracle_rows)
            spark_rows = {}
            for name in QUERY_NAMES:
                self.spark.catalog.clearCache()
                df = self.query(name)
                obs, observed = row_digest(df)
                spark_rows[name] = (df.columns, [tuple(r) for r in observed.collect()])
                got = obs.get
                self.expected[name] = (int(got["n"]), str(got["h"]))
            oracle_rows = oracle.result()
        for name in QUERY_NAMES:
            (scols, srows), (ocols, orows) = spark_rows[name], oracle_rows[name]
            if len(srows) != len(orows) or sorted(scols) != sorted(ocols):
                self.fail(f"queries: {name} shape differs from its DuckDB oracle")
            elif multiset(srows, scols) != multiset(orows, ocols):
                self.fail(f"queries: {name} values differ from its DuckDB oracle")
        return len(QUERY_NAMES)

    def run_pass(self, i: int) -> dict[str, float]:
        t = {}
        for name in QUERY_NAMES:
            self.spark.catalog.clearCache()
            got, t[name] = self.tracer.timed(f"query.{name}",
                                             lambda: materialize(self.query(name)))
            if got != self.expected[name]:
                self.fail(f"queries: {name} pass {i} gave {got}, checked {self.expected[name]}")
        return t

    def query_layers(self, report: dict) -> dict:
        """The untraced window's per-query medians."""
        return {f"query.{name}_s": secs for name, secs in report["op_medians_s"].items()}


WORKLOADS = {w.name: w for w in (Curate, Queries)}
