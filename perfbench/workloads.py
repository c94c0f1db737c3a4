"""The workloads: inputs, the timed operation, its output check, and
the staged per-layer replay used by the traced run.

Each workload calls the engine only through its public functions.
``op`` is one timed operation; ``check`` verifies its output against
truth taken from input construction and raises on any mismatch.
"""

from __future__ import annotations

import glob
import os
import shutil

from inputs import corpus

_HASH_SUM = "sum(cast(xxhash64(url, {}) as decimal(38,0)))"


class CheckFailed(AssertionError):
    pass


def _expect(name: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{name}: got {got!r}, want {want!r}")


def _du_mb(path: str) -> float:
    return sum(
        os.path.getsize(f) for f in glob.glob(f"{path}/**", recursive=True)
        if os.path.isfile(f)
    ) / 1e6


class Extract:
    """Extraction only: scan -> Python kernel -> checksum aggregate, over
    the pages corpus laid out as ``4 * nproc`` parquet files of 1024-row
    groups. Its traced run also replays the lineage layer."""

    name = "extract"
    N_DOCS, N_WARM = 20_000, 1_000
    SETUPS = 3
    # plans.lineage replay: a run that fails after half its waves, then
    # the resuming run
    BUCKETS, WAVE = 8, 4
    FAIL_AFTER = BUCKETS // WAVE // 2

    def __init__(self, root, seed, nproc):
        self.nproc = nproc
        self.main = corpus(root, "pages", seed, self.N_DOCS, 4 * nproc, nproc)
        self.warm_input = corpus(root, "pages", seed, self.N_WARM, nproc, nproc)
        self.docs = self.main["rows"]
        self.input_mb = self.main["html_bytes"] / 1e6

    def prepare(self, spark) -> None:
        from pyspark.sql import functions as F

        self.pages = spark.read.parquet(self.main["path"])
        sizes = [
            r["n"] for r in self.pages.groupBy(F.spark_partition_id().alias("p"))
            .agg(F.count(F.lit(1)).alias("n")).collect()
        ]
        # one busy core is the layout trap this corpus exists to avoid
        if len(sizes) < self.nproc or min(sizes) < 0.8 * max(sizes):
            raise CheckFailed(
                f"pages scan splits as {sorted(sizes)}: want >= {self.nproc} "
                "near-equal partitions"
            )
        g = self.pages.select(
            F.expr(_HASH_SUM.format("text")).alias("all"),
        ).first()
        d = self.pages.select("url", "text").distinct().select(
            F.expr(_HASH_SUM.format("text")).alias("h"), F.count(F.lit(1)).alias("n")
        ).first()
        self.golden_all, self.golden_latest, self.n_urls = g["all"], d["h"], d["n"]

    def call(self, pages):
        from pyspark.sql import functions as F

        from table_ocr_spark.operators.extract import extract_documents

        return extract_documents(pages).select(
            F.expr(_HASH_SUM.format("extracted_text")).alias("h"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("degraded").cast("long")).alias("d"),
        ).first()

    def warm(self, spark, out: str) -> None:
        self.call(spark.read.parquet(self.warm_input["path"]))

    def op(self, spark, out: str):
        return self.call(self.pages)

    def check(self, spark, res, out: str) -> None:
        _expect("rows", res["n"], self.docs)
        _expect("degraded", res["d"], 0)
        # a sum, not an xor: ~5% of urls are duplicate captures
        _expect("sum xxhash64(url, text)", res["h"], self.golden_all)

    def lineage(self, spark, pages, out: str):
        from table_ocr_spark.plans.lineage import InjectedFailure, run_pipeline

        try:
            run_pipeline(spark, pages, out, num_buckets=self.BUCKETS,
                         wave_size=self.WAVE, fail_after_wave=self.FAIL_AFTER)
        except InjectedFailure:
            pass
        else:
            raise CheckFailed("the first run did not fail")
        return run_pipeline(spark, pages, out, run_id="run2",
                            num_buckets=self.BUCKETS, wave_size=self.WAVE)

    def check_lineage(self, spark, rep, out: str) -> None:
        from pyspark.sql import functions as F

        from table_ocr_spark.plans.lineage import read_extracted

        done_before = self.FAIL_AFTER * self.WAVE
        _expect("buckets_done_prior", rep.buckets_done_prior, done_before)
        _expect("buckets_processed", rep.buckets_processed, self.BUCKETS - done_before)
        got = read_extracted(spark, out).select(
            F.expr(_HASH_SUM.format("extracted_text")).alias("h"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        _expect("urls out", got["n"], self.n_urls)
        _expect("sum xxhash64(url, text) after latest-capture", got["h"], self.golden_latest)
        lin = spark.read.parquet(f"{out}/_lineage").groupBy("bucket").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
        _expect("lineage buckets", sorted(r["bucket"] for r in lin), list(range(self.BUCKETS)))
        _expect("lineage rows per bucket", {r["n"] for r in lin}, {1})

    def replay(self, spark, tracer, stage: str, e2e: dict) -> tuple:
        from pyspark.sql import functions as F

        from table_ocr_spark.operators.extract import extract_documents

        s = tracer.span(
            "operators.extract",
            lambda: extract_documents(self.pages).write.mode("overwrite")
            .parquet(f"{stage}/extracted"),
        )
        r = spark.read.parquet(f"{stage}/extracted").agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.col("degraded").cast("long")).alias("d")
        ).first()
        m = _extract_metrics(tracer, s, r["n"], r["d"])

        # the lineage path's first call pays its own warm-up, untimed
        self.lineage(spark, spark.read.parquet(self.warm_input["path"]), f"{stage}/warm")
        out = f"{stage}/lineage"
        s = tracer.span("plans.lineage", lambda: self.lineage(spark, self.pages, out))
        self.check_lineage(spark, s["result"], out)
        waves = self.BUCKETS // self.WAVE
        m.update({
            "plans.lineage.wall_s": s["wall_s"],
            "plans.lineage.spark_jobs": s["spark_jobs"],
            # stage inputBytes misses most of a local parquet scan; rows
            # read per wave show a full re-read just as well
            "plans.lineage.input_rows_per_wave": s["input_rows"] / waves,
            "plans.lineage.output_mb": _du_mb(f"{out}/data"),
            "plans.lineage.buckets_processed": s["result"].buckets_processed,
        })
        return m, m["operators.extract.wall_s"]


def _extract_metrics(tracer, s, rows, degraded) -> dict:
    m = {
        "operators.extract.wall_s": s["wall_s"],
        "operators.extract.python_cpu_s": s["python_cpu_s"],
        "operators.extract.jvm_cpu_s": s["jvm_cpu_s"],
        "operators.extract.rows_out": rows,
        "operators.extract.degraded_rows": degraded or 0,
    }
    skew = tracer.task_skew(s)
    m["operators.extract.tasks"] = skew["tasks"]
    m["operators.extract.task_max_over_median"] = skew["task_max_over_median"]
    return m


class CrawlToShards:
    """WARC bytes -> tiered corpus plus packed shards, with planted
    duplicates, near-duplicates and PII so every stage does work."""

    name = "crawl_to_shards"
    N_DOCS, N_WARM = 3_000, 200
    # on 4 cores a cold set-up costs ~35-48 s, a repeated one ~18 s
    SETUPS = 1
    EXPECTED = ("n_input", "n_extracted", "n_quality_pass",
                "n_after_exact_dedup", "n_after_near_dedup", "n_had_pii")

    def __init__(self, root, seed, nproc):
        self.main = corpus(root, "crawl", seed, self.N_DOCS, 2 * nproc, nproc)
        self.warm_input = corpus(root, "crawl", seed, self.N_WARM, nproc, nproc)
        self.docs = self.main["records"]
        self.input_mb = self.main["file_bytes"] / 1e6

    @staticmethod
    def _glob(c: dict) -> str:
        return c["path"] + "/*.warc.gz"

    def prepare(self, spark) -> None:
        pass

    def warm(self, spark, out: str) -> None:
        from table_ocr_spark.pipelines import crawl_to_shards

        crawl_to_shards(spark, self._glob(self.warm_input), out, n_tiers=3)

    def op(self, spark, out: str):
        from table_ocr_spark.pipelines import crawl_to_shards

        return crawl_to_shards(spark, self._glob(self.main), out, n_tiers=3)

    def check(self, spark, rep, out: str) -> None:
        from pyspark.sql import functions as F

        for k in self.EXPECTED:
            _expect(k, getattr(rep["corpus"], k), self.main[k])
        near = self.main["n_after_near_dedup"]
        _expect("docs over tiers", sum(t["n_docs"] for t in rep["tiers"].values()), near)
        tokens = [
            spark.read.parquet(p).agg(F.sum("n_tokens")).first()[0]
            for p in (rep["shards_path"], rep["corpus_path"])
        ]
        _expect("packed tokens vs corpus tokens", tokens[0], tokens[1])

    def replay(self, spark, tracer, stage: str, e2e: dict) -> tuple:
        from pyspark.sql import functions as F

        from table_ocr_spark.operators.dedup import (
            cluster_survivors,
            duplicate_clusters,
            exact_dedup,
            minhash_lsh_pairs,
        )
        from table_ocr_spark.operators.extract import extract_documents, latest_capture
        from table_ocr_spark.operators.textstats import (
            gopher_quality,
            redact_pii,
            token_stats,
        )
        from table_ocr_spark.operators.tiers import score_tiers
        from table_ocr_spark.pipelines import ingest_crawl, materialize_tiered_corpus

        def put(df, name):
            df.write.mode("overwrite").parquet(f"{stage}/{name}")

        def get(name):
            return spark.read.parquet(f"{stage}/{name}")

        def count(name):
            return get(name).count()

        spans = {}
        spans["warc"] = tracer.span(
            "sources.warc", lambda: put(ingest_crawl(spark, self._glob(self.main)), "pages")
        )
        spans["extract"] = tracer.span(
            "operators.extract",
            lambda: put(extract_documents(latest_capture(get("pages"))), "extracted"),
        )
        ex = get("extracted").agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.col("degraded").cast("long")).alias("d")
        ).first()
        put(get("extracted").select("url", F.col("extracted_text").alias("text"))
            .filter(F.length("text") > 0), "text")

        spans["quality"] = tracer.span(
            "operators.textstats",
            lambda: put(gopher_quality(get("text"), text_col="text", id_col="url"), "quality"),
        )
        put(get("text").join(
            get("quality").filter("quality_pass").select("url"), "url", "left_semi"
        ), "passed")

        def dedup():
            passed = get("passed")
            put(exact_dedup(passed, text_col="text", id_col="url"), "exact")
            canonical = get("exact").filter(~F.col("is_dup")).select("url")
            put(passed.join(canonical, "url", "left_semi"), "uniq")
            uniq = get("uniq")
            put(minhash_lsh_pairs(uniq, text_col="text", id_col="url"), "pairs")
            put(duplicate_clusters(uniq, get("pairs"), id_col="url",
                                   state_dir=f"{stage}/cc"), "clusters")
            scores = uniq.select("url", F.length("text").cast("double").alias("_len"))
            keep = cluster_survivors(get("clusters"), scores, id_col="url",
                                     score_col="_len").filter("keep").select("url")
            put(uniq.join(keep, "url", "left_semi"), "near")

        spans["dedup"] = tracer.span("operators.dedup", dedup)
        # every candidate pair the banding emits, verified or not
        candidates = minhash_lsh_pairs(
            get("uniq"), text_col="text", id_col="url", threshold=0.0
        ).count()
        verified = count("pairs")
        cc_rounds = max(
            int(p.rsplit("=", 1)[1]) for p in glob.glob(f"{stage}/cc/labels/round=*")
        )

        spans["pii"] = tracer.span(
            "operators.textstats",
            lambda: put(redact_pii(get("near"), text_col="text", id_col="url").select(
                "url", F.col("redacted_text").alias("text"), "n_emails", "n_phones"
            ), "clean"),
        )
        put(token_stats(get("clean"), text_col="text", id_col="url").select(
            "url", "n_tokens", "quality_score"), "stats")
        spans["tiers"] = tracer.span(
            "operators.tiers",
            lambda: put(score_tiers(get("stats"), "quality_score", n_tiers=3), "tiers"),
        )
        put(get("clean").join(get("tiers").select("url", "n_tokens", "tier"), "url"), "corpus")
        spans["mat"] = tracer.span(
            "pipelines.materialize_tiered_corpus",
            lambda: materialize_tiered_corpus(get("corpus"), f"{stage}/tiered"),
        )

        m = _extract_metrics(tracer, spans["extract"], ex["n"], ex["d"])
        ts = [spans["quality"], spans["pii"]]
        d = spans["dedup"]
        m.update({
            "sources.warc.wall_s": spans["warc"]["wall_s"],
            "sources.warc.rows_out": count("pages"),
            "sources.warc.input_mb": self.input_mb,
            "sources.warc.python_cpu_s": spans["warc"]["python_cpu_s"],
            "operators.textstats.wall_s": sum(s["wall_s"] for s in ts),
            "operators.textstats.python_cpu_s": sum(s["python_cpu_s"] for s in ts),
            "operators.textstats.rows_out": count("passed"),
            "operators.dedup.wall_s": d["wall_s"],
            "operators.dedup.spark_jobs": d["spark_jobs"],
            "operators.dedup.shuffle_write_mb": d["shuffle_write_mb"],
            "operators.dedup.lsh_candidate_pairs": candidates,
            "operators.dedup.verified_pairs": verified,
            "operators.dedup.verified_over_candidates": verified / max(candidates, 1),
            "operators.dedup.cc_rounds": cc_rounds,
            "operators.dedup.rows_out": count("near"),
            "operators.tiers.wall_s": spans["tiers"]["wall_s"],
            "operators.tiers.spark_jobs": spans["tiers"]["spark_jobs"],
            "pipelines.materialize_tiered_corpus.wall_s": spans["mat"]["wall_s"],
            "pipelines.materialize_tiered_corpus.spark_jobs": spans["mat"]["spark_jobs"],
            "pipelines.materialize_tiered_corpus.output_mb": _du_mb(f"{stage}/tiered"),
            "pipelines.crawl_to_shards.spark_jobs": e2e["spark_jobs"],
            "pipelines.crawl_to_shards.cached_rdds_left": e2e["cached_rdds_left"],
        })
        return m, sum(s["wall_s"] for s in spans.values())


WORKLOADS = {w.name: w for w in (Extract, CrawlToShards)}


def clean(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
