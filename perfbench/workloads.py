"""The batch workloads, driven through the public ccspark API.

Each workload has ``setup`` (the one-time work a user pays per job,
timed as ``setup_s``), ``run_pass`` (inputs on disk -> result committed
in the empty directory ``out``, timed as ``wall_s``) and ``check``
(independent verification of what the pass wrote).  One pass runs at a
time, from one thread.

``CrawlHygiene`` is not a workload of its own: its pass costs a fixed
10-35 s of Spark jobs whatever the input size, more than a regression
run can spend, so it runs as a stage of training_mix's traced run (see
``perfbench/trace.py``), which measures its layers.
"""

from __future__ import annotations

import os

from perfbench import check, gen


class CrawlBuild:
    """WET segments -> process_wet -> lid_pass -> finalize(out_path)."""

    name = "crawl_build"

    def __init__(self, inp: "gen.CrawlInputs"):
        self.inp = inp
        pages, geo = check.expect_pages(inp)
        self.country_limit = check.country_limit_for(
            check.country_counts(pages, geo))
        self.expected = check.expect_crawl_build(pages, geo,
                                                 self.country_limit)

    def setup(self, spark) -> None:
        from ccspark import geo, lid
        from ccspark.api import CCSparkCorpus
        geo.cctld_dim(spark).count()
        geo.url_filter_dim(spark).count()
        docs = spark.createDataFrame(self.inp.lid_docs, "text string, "
                                                        "lang string")
        self.model = lid.train(docs)
        self.labels = set(self.model.priors)
        self.corpus = CCSparkCorpus(spark)

    def run_pass(self, spark, out: str) -> None:
        c = self.corpus
        lines = c.process_wet(self.inp.glob)
        pages = c.lid_pass(lines, self.model)
        c.finalize(pages, out_path=out, country_limit=self.country_limit)

    def check(self, out: str) -> str:
        return check.check_crawl_build(out, self.expected, self.labels)

    def sample(self):
        """(page texts, page languages or None) for the direct kernel
        rates."""
        return [t for _, t, _, _ in self.inp.pages], None


class TrainingMix:
    """Pages parquet -> build_training_corpus(domain gate) -> parquet."""

    name = "training_mix"
    domain_min_keep = 0.3

    def __init__(self, inp: "gen.TrainInputs"):
        self.inp = inp
        self.expected = check.expect_training_mix(inp)

    def setup(self, spark) -> None:
        from ccspark import geo
        from ccspark.api import CCSparkCorpus
        geo.cctld_dim(spark).count()
        geo.url_filter_dim(spark).count()
        self.corpus = CCSparkCorpus(spark)

    def run_pass(self, spark, out: str) -> None:
        from ccspark import pipeline
        pages = spark.read.parquet(self.inp.path)
        lines = self.corpus.build_training_corpus(
            pages, domain_min_keep=self.domain_min_keep)
        pipeline.write_partitioned(lines, out)

    def check(self, out: str) -> str:
        return check.check_training_mix(out, self.expected, self.inp)

    def sample(self):
        return self.inp.texts, self.inp.langs


class CrawlHygiene:
    """Month-1 signatures to disk -> month-2 decontaminate ->
    screen_new_crawl(history read back) -> dedup_near -> survivors."""

    name = "crawl_hygiene"

    def __init__(self, inp: "gen.HygieneInputs"):
        self.inp = inp

    def setup(self, spark) -> None:
        from ccspark.api import CCSparkCorpus
        spark.range(1).count()
        self.corpus = CCSparkCorpus(spark)

    def run_pass(self, spark, out: str) -> None:
        from ccspark import dedup, pipeline
        c = self.corpus
        sig_path = os.path.join(out, "history_sig")
        month1 = spark.read.parquet(self.inp.month1)
        pipeline.write_partitioned(dedup.minhash_signature_table(month1),
                                   sig_path, partition_cols=())
        month2 = spark.read.parquet(self.inp.month2)
        bench = spark.read.parquet(self.inp.eval_path)
        clean = c.decontaminate(month2, bench)
        fresh = c.screen_new_crawl(
            clean, history_sig=spark.read.parquet(sig_path))
        survivors = c.dedup_near(fresh)
        pipeline.write_partitioned(survivors, os.path.join(out, "docs"),
                                   partition_cols=())

    def check(self, out: str) -> str:
        return check.check_crawl_hygiene(os.path.join(out, "docs"),
                                         self.inp)


WORKLOADS = {w.name: w for w in (CrawlBuild, TrainingMix)}
