"""The benchmark's workloads: inputs made from the seed, one iteration of
the user-visible job, and the checks on its outputs.

Every workload is a closed loop: one client runs one job at a time.
"""

from __future__ import annotations

import os
import shutil
from collections import Counter
from functools import cached_property

from pyspark.sql import functions as F

from medacy_spark.corpus.synth import clinical_documents, gold_mentions, gold_triples
from medacy_spark.functions.html import extract_text_expr
from medacy_spark.learners import CRFLearner
from medacy_spark.model import Model
from medacy_spark.operators.graph import materialize_nodes_edges
from medacy_spark.operators.linking import cui_dictionary, link_mentions
from medacy_spark.operators.mentions import detect_mentions, gazetteer_df
from medacy_spark.operators.relations import extract_triples
from medacy_spark.operators.scoring import measures
from medacy_spark.operators.tokenize import tokenize_clinical, tokenize_native
from medacy_spark.plans.checkpoint import completed_partitions, run_stage_checkpointed

from tracing import UNTRACED

RUN_ID = "bench"
# doc ids of seed s start at (10 + s mod 90) * SEED_STRIDE: any seed, however
# large or negative, maps to one of 90 disjoint ranges of 9-digit ids, so the
# corpus generator's id arithmetic (up to ~1500 * doc_id) never overflows a
# long and every seed's ids have the same number of digits
SEED_STRIDE = 10_000_000
SEED_RANGES = 90


class CheckFailed(Exception):
    pass


def doc_ids(spark, start: int, n: int):
    return spark.range(start, start + n).withColumnRenamed("id", "doc_id")


def _mention_key(prefix: str = "") -> list:
    # offsets are int on some paths and long on others: hash them as long
    return [F.col(f"{prefix}tag"), F.col(f"{prefix}start").cast("long"),
            F.col(f"{prefix}end").cast("long"), F.col(f"{prefix}text")]


def _triple_key() -> list:
    return [F.col("doc_id").cast("long"), *_mention_key("subj."), F.col("pred"),
            *_mention_key("obj.")]


def _span_key() -> list:
    """Strict-match key of a mention (scoring.match_counts_strict): no text."""
    return [F.col("doc_id").cast("long"), *_mention_key()[:3]]


def row_hashes(df, key: list | None = None) -> Counter:
    """Multiset of per-row hashes of `key` (default: every column); equal
    multisets == equal tables."""
    key = key or [F.col(c) for c in sorted(df.columns)]
    return Counter(r[0] for r in df.select(F.xxhash64(*key)).collect())


def f1(gold: Counter, out: Counter) -> tuple[float, int, int, int]:
    tp = sum((gold & out).values())
    fp = sum(out.values()) - tp
    fn = sum(gold.values()) - tp
    return (2 * tp / (2 * tp + fp + fn) if tp else 0.0), tp, fp, fn


class Workload:
    """prepare() makes the inputs (not timed); setup() is the program's own
    set-up (timed as setup_s); iterate() runs the job once (timed); check()
    verifies its outputs against gold and returns f1."""

    docs: int
    # untimed iterations before measuring: the first one in a fresh JVM runs
    # about twice as long as the next (JIT, codegen) and grows its RSS most.
    # The second is still ~20% slower than the third, but a second warm-up
    # does not fit the benchmark's per-run time budget.
    warmup = 1
    # set-ups timed for setup_s (the first launches the JVM); its median
    # is of the restarts, so more of them steady it where they are cheap
    setups = 5

    def __init__(self, spark, work: str, seed: int, size: dict):
        self.spark = spark
        self.work = work
        self.size = size
        self.base = (10 + seed % SEED_RANGES) * SEED_STRIDE

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def prepare(self) -> None:
        raise NotImplementedError

    def setup(self, spark) -> None:
        self.spark = spark

    def iterate(self, tr, out: str) -> None:
        raise NotImplementedError

    def check(self, out: str) -> float:
        raise NotImplementedError

    def before_iteration(self, tr, out: str) -> None:
        pass


def kg_job(spark, tr, docs_path: str, out: str, partitions: int) -> None:
    """jobs/kg_pipeline.py's composition, with a span around each layer."""
    docs = spark.read.parquet(docs_path)

    def stage_extract(chunk):
        with tr.span("tokenize"):
            texts = chunk.select(
                "doc_id", "url", extract_text_expr(F.col("html")).alias("text")
            )
            toks = tr.force("tokenize", tokenize_native(texts.select("doc_id", "text")))
        with tr.span("mentions"):
            return tr.force("mentions", detect_mentions(toks, gazetteer_df(spark)))

    def stage_triples(df):
        with tr.span("relations"):
            return tr.force("relations", extract_triples(df.drop("partition_id")))

    common = dict(
        run_id=RUN_ID, key_col="doc_id", n_partitions=partitions,
        metrics_path=f"{out}/metrics",
    )
    with tr.span("checkpoint"):
        mentions = run_stage_checkpointed(
            spark, docs, stage_extract, stage="mentions",
            output_path=f"{out}/mentions", **common,
        )
    with tr.span("checkpoint"):
        triples = run_stage_checkpointed(
            spark, mentions, stage_triples, stage="triples",
            output_path=f"{out}/triples", partition_col="partition_id", **common,
        )
    if tr.enabled:
        with tr.untimed():
            n_mentions = mentions.count()
            tr.count("checkpoint", "rows_out", n_mentions + triples.count())
            tr.count("linking", "mentions_in", n_mentions)
    with tr.span("linking"):
        links = tr.force("linking", link_mentions(mentions, cui_dictionary(spark)))
    with tr.span("graph"):
        nodes, edges = materialize_nodes_edges(links, triples)
        nodes.write.mode("overwrite").parquet(f"{out}/nodes")
        edges.write.mode("overwrite").parquet(f"{out}/edges")
    if tr.enabled:
        with tr.untimed():
            tr.count("graph", "rows_out", sum(
                spark.read.parquet(f"{out}/{t}").count() for t in ("nodes", "edges")
            ))


class KgBuild(Workload):
    """A fresh run of the full KG job into an empty output dir."""

    def prepare(self) -> None:
        n = self.size["docs"]
        self.docs = n
        ids = doc_ids(self.spark, self.base, n)
        clinical_documents(ids).drop("text").write.parquet(self.path("docs"))

    @cached_property
    def gold(self) -> Counter:
        # computed at the first check, once the JVM is warm: costs less there
        ids = doc_ids(self.spark, self.base, self.docs)
        return row_hashes(gold_triples(ids), _triple_key())

    def before_iteration(self, tr, out: str) -> None:
        if tr.enabled:
            with tr.untimed():
                done = sum(
                    len(completed_partitions(self.spark, f"{out}/metrics", RUN_ID, s))
                    for s in ("mentions", "triples")
                )
                tr.count("checkpoint", "skipped", done)
                tr.count("checkpoint", "partitions", 2 * self.size["partitions"])

    def iterate(self, tr, out: str) -> None:
        kg_job(self.spark, tr, self.path("docs"), out, self.size["partitions"])

    def outputs(self, out: str) -> dict[str, Counter]:
        read = self.spark.read.parquet
        return {
            "triples": row_hashes(read(f"{out}/triples"), _triple_key()),
            "nodes": row_hashes(read(f"{out}/nodes")),
            "edges": row_hashes(read(f"{out}/edges")),
        }

    def check(self, out: str) -> float:
        triples = self.spark.read.parquet(f"{out}/triples")
        return f1(self.gold, row_hashes(triples, _triple_key()))[0]


class KgResume(KgBuild):
    """The same job resumed after a crash in the triples stage: mentions
    fully committed, 3 of every 4 triples partitions committed, the rest
    lost (partition dirs deleted, metrics rows dropped)."""

    def prepare(self) -> None:
        super().prepare()
        p = self.size["partitions"]
        if p % 4:
            raise ValueError("kg_resume needs partitions divisible by 4")
        ref = self.path("reference")
        KgBuild.iterate(self, UNTRACED, ref)
        self.reference = self.outputs(ref)
        if f1(self.gold, self.reference["triples"])[0] != 1.0:
            raise CheckFailed("reference build's triples differ from gold")
        lost = [i for i in range(p) if i % 4 == 3]
        lost_dirs = {f"partition_id={i}" for i in lost}
        tmpl = self.template = self.path("template")
        shutil.copytree(f"{ref}/mentions", f"{tmpl}/mentions")
        shutil.copytree(
            f"{ref}/triples", f"{tmpl}/triples",
            ignore=lambda d, names: [n for n in names if n in lost_dirs],
        )
        m = self.spark.read.parquet(f"{ref}/metrics")
        m.filter(~((F.col("stage") == "triples") & F.col("partition_id").isin(lost))).write.parquet(
            f"{tmpl}/metrics"
        )
        shutil.rmtree(ref)

    def before_iteration(self, tr, out: str) -> None:
        shutil.copytree(self.template, out)
        super().before_iteration(tr, out)

    def check(self, out: str) -> float:
        got = self.outputs(out)
        for name, ref in self.reference.items():
            if got[name] != ref:
                raise CheckFailed(f"resumed {name} differ from a fresh build's")
        return f1(self.gold, got["triples"])[0]


class NerPredict(Workload):
    """medaCy's predict + evaluate journey with a CRF fitted in set-up."""

    setups = 3  # each fits the CRF again: ~7 s

    def prepare(self) -> None:
        n_train, n = self.size["train_docs"], self.size["docs"]
        self.docs = n
        # one corpus and one gold table: the prediction range first, the
        # (disjoint) training range right after it
        ids = doc_ids(self.spark, self.base, n + n_train)
        clinical_documents(ids).select("doc_id", "text").write.parquet(self.path("corpus"))
        gold_mentions(ids).write.parquet(self.path("gold"))
        self.tr = UNTRACED

    def _read(self, name: str, train: bool):
        in_train = F.col("doc_id") >= self.base + self.docs
        return self.spark.read.parquet(self.path(name)).filter(in_train if train else ~in_train)

    @cached_property
    def gold(self) -> Counter:
        return row_hashes(self._read("gold", train=False), _span_key())

    def _tokenize(self, documents):
        # Model calls its tokenizer inside fit() and predict(): the span goes
        # around that call, under the tracer of the running iteration
        with self.tr.span("tokenize"):
            return self.tr.force("tokenize", tokenize_clinical(documents))

    def setup(self, spark) -> None:
        super().setup(spark)
        self.model = Model(spark, CRFLearner(), tokenizer=self._tokenize).fit(
            self._read("corpus", train=True), self._read("gold", train=True)
        )

    def iterate(self, tr, out: str) -> None:
        self.tr = tr
        read = self.spark.read.parquet
        with tr.span("ner_model"):
            pred = self.model.predict(self._read("corpus", train=False))
            pred.write.parquet(f"{out}/mentions")
        with tr.span("scoring"):
            gold = self._read("gold", train=False)
            rows = measures(gold, read(f"{out}/mentions"), mode="strict").collect()
        self.measured = {r["tag"]: (r["tp"], r["fp"], r["fn"]) for r in rows}
        if tr.enabled:
            with tr.untimed():
                tr.count("ner_model", "rows_out", read(f"{out}/mentions").count())
                tr.count("scoring", "rows_out", len(rows))
        self.tr = UNTRACED

    def check(self, out: str) -> float:
        got = row_hashes(self.spark.read.parquet(f"{out}/mentions"), _span_key())
        score, tp, fp, fn = f1(self.gold, got)
        if self.measured.get("system") != (tp, fp, fn):
            raise CheckFailed(
                f"scoring.measures says {self.measured.get('system')}, "
                f"the benchmark counts {(tp, fp, fn)}"
            )
        return score


WORKLOADS = {"kg_build": KgBuild, "kg_resume": KgResume, "ner_predict": NerPredict}
