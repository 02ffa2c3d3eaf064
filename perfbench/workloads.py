"""KG workloads: inputs, one closed-loop pass, and its checks.

Two workloads: batch with the gazetteer tagger, and batch with the
numpy-BERT checkpoint. A traced run also traces, on the workload's own
inputs, the other batch variant, ``resume_run`` and ``streaming_triples``
(the companions), so every layer is measured on every workload. Each
calls the package's public entry points on inputs from
``corpus.generate`` and checks every output of every pass against the
twin. A workload pass
returns ``wall`` (the time ``pages_per_s`` divides into) and
``pass_wall`` (everything the pass timed; the traced-minus-untraced
overhead compares these).

The traced pass calls each layer's public function itself, in the order
``run_kg_pipeline`` does, inside a span, and materializes the layer's
output (persist + count) before the next call.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import StorageLevel
from pyspark.sql import functions as F

from bert_namedentityrecognition_spark.operators.canonicalize import (
    apply_alias_map,
    canonical_alias_map,
)
from bert_namedentityrecognition_spark.operators.ner import (
    classifier_from_checkpoint,
    ner_pages,
)
from bert_namedentityrecognition_spark.operators.normalize import normalize_mentions
from bert_namedentityrecognition_spark.operators.tagger import extract_mentions
from bert_namedentityrecognition_spark.operators.triples import (
    DEFAULT_PRED,
    build_graph,
    build_pairs,
    salted_count,
)
from bert_namedentityrecognition_spark.plans.ledger import MetricsLedger, resume_run
from bert_namedentityrecognition_spark.plans.pipeline import run_kg_pipeline, write_outputs
from bert_namedentityrecognition_spark.streaming.stream_pipeline import (
    stream_pages,
    streaming_triples,
)

from . import model as bert
from .twin import MENTION_COLS, Twin, diff, oracle_mention_tuples, rows_of

PAGES_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)
DIM_SCHEMA = pa.schema(
    [(c, pa.string()) for c in ("entity_id", "surface", "canonical", "code", "kind", "human_check")]
)
ALIAS_SCHEMA = pa.schema([("src", pa.string()), ("dst", pa.string())])
PAGE_FILES = 4  # one file per core, as the pages of a local[4] write
TRIPLE_COLS = ("subj", "pred", "obj", "count")
NODE_COLS = ("entity_id", "canonical", "kind", "mention_count", "doc_count")
EDGE_COLS = ("src_id", "pred", "dst_id", "subj", "obj", "count")
MEM = StorageLevel.MEMORY_AND_DISK


def _materialize(span: dict, df, rows_in: int):
    df = df.persist(MEM)
    span["rows_in"] = rows_in
    span["rows_out"] = df.count()
    return df


def _write(rows: list[dict], schema, base: str, name: str, part: int = 0) -> None:
    os.makedirs(os.path.join(base, name), exist_ok=True)
    pq.write_table(
        pa.Table.from_pylist(rows, schema=schema),
        os.path.join(base, name, f"part-{part:05d}.snappy.parquet"),
        compression="snappy",
    )


def _tree(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.startswith("part-"):
                size += os.path.getsize(os.path.join(d, n))
                files += 1
    return size, files


class Workload:
    name = ""
    n_pages = 0
    alias = False

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.inputs = os.path.join(work, "input")
        self.out = os.path.join(work, "out")

    # -- set-up -------------------------------------------------------------
    def expect(self, corpus: dict) -> dict:
        """Twin outputs, computed once per seed; returns descriptors."""
        self.corpus = corpus
        self.twin = Twin(
            oracle_mention_tuples(corpus["pages"], corpus["term_types"]),
            corpus["dim"],
            corpus["alias_edges"] if self.alias else None,
        )
        return self.twin.descriptors

    def prepare(self, spark, corpus: dict) -> None:
        """Input load: pages, dimension and alias edges to parquet files,
        written in-process so that set-up launches no Spark job."""
        self.term_types = corpus["term_types"]
        shutil.rmtree(self.inputs, ignore_errors=True)
        pages = corpus["pages"]
        step = -(-len(pages) // PAGE_FILES)
        for k in range(PAGE_FILES):
            _write(pages[k * step:(k + 1) * step], PAGES_SCHEMA, self.inputs, "pages", k)
        _write(corpus["dim"], DIM_SCHEMA, self.inputs, "dim")
        _write(corpus["alias_edges"], ALIAS_SCHEMA, self.inputs, "alias")

    def read(self, spark, name: str):
        return spark.read.parquet(os.path.join(self.inputs, name))

    # -- one pass -----------------------------------------------------------
    def run(self, spark, tracer=None) -> dict:
        raise NotImplementedError

    def verify(self, spark, result: dict) -> list[str]:
        raise NotImplementedError

    def counters(self, spark, result: dict) -> dict[str, float]:
        """Layer counters read from outside after a traced pass."""
        return {}

    def release(self, spark, result: dict) -> None:
        spark.catalog.clearCache()

    def descriptors(self) -> dict:
        return {}

    def companions(self, spark) -> list["Workload"]:
        """The other entry points, traced after this workload's pass on its
        inputs, so that every layer is measured on every workload."""
        mentions = oracle_mention_tuples(self.corpus["pages"], self.term_types)
        out = []
        for cls in COMPANIONS[self.name]:
            c = cls(self.work, self.seed)
            c.n_pages, c.term_types, c.corpus = self.n_pages, self.term_types, self.corpus
            c.attach(spark, mentions)
            out.append(c)
        return out

    def attach(self, spark, mentions: list[tuple]) -> None:
        """Companion set-up on the parent's inputs and twin mentions."""
        self.twin = Twin(mentions, self.corpus["dim"], self.corpus["alias_edges"] if self.alias else None)


class BatchGazetteer(Workload):
    name = "kg_batch_gazetteer"
    n_pages = 3000
    alias = True

    def model_args(self, tracer) -> dict:
        return {}

    def run(self, spark, tracer=None) -> dict:
        if tracer is None:
            t0 = time.perf_counter()
            out = run_kg_pipeline(
                self.read(spark, "pages"),
                self.read(spark, "dim"),
                self.term_types,
                alias_edges=self.read(spark, "alias") if self.alias else None,
                **self.model_args(None),
            )
            write_outputs(out, self.out)
            wall = time.perf_counter() - t0
            return {"wall": wall, "pass_wall": wall}
        return self._traced(spark, tracer)

    def _traced(self, spark, tr) -> dict:
        t0 = time.perf_counter()
        with tr.span("pass") as root:
            pages, dim = self.read(spark, "pages"), self.read(spark, "dim")
            margs = self.model_args(tr)
            with tr.span("ner" if margs else "tagger") as s:
                stage = ner_pages(pages, **margs) if margs else extract_mentions(pages, self.term_types)
                m = _materialize(s, stage, self.n_pages)
            n_mentions = s["rows_out"]
            with tr.span("normalize") as s:
                nrm = _materialize(s, normalize_mentions(m, dim), n_mentions)
            can = nrm
            if self.alias:
                with tr.span("canonicalize") as s:
                    amap = canonical_alias_map(self.read(spark, "alias"), dim)
                    can = _materialize(s, apply_alias_map(nrm, amap, dim=dim), n_mentions)
            with tr.span("triples.pairs") as s:
                pairs = _materialize(s, build_pairs(can), n_mentions)
            n_pairs = s["rows_out"]
            with tr.span("triples.count") as s:
                counted = salted_count(pairs, ["subj", "obj"]).select(
                    "subj", F.lit(DEFAULT_PRED).alias("pred"), "obj", F.col("count")
                )
                trip = _materialize(s, counted, n_pairs)
            n_triples = s["rows_out"]
            with tr.span("triples.graph") as s:
                g = build_graph(can, dim, trip)
                nodes, edges = g["nodes"].persist(MEM), g["edges"].persist(MEM)
                s["rows_in"] = n_mentions + n_triples
                s["rows_out"] = nodes.count() + edges.count()
            with tr.span("pipeline.sink") as s:
                s["rows_in"] = n_mentions + n_triples + tr.spans[-2]["rows_out"]
                write_outputs({"mentions": m, "triples": trip, "nodes": nodes, "edges": edges}, self.out)
        wall = time.perf_counter() - t0
        return {"wall": wall, "pass_wall": wall, "root": root, "normalized": nrm}

    def counters(self, spark, result: dict) -> dict[str, float]:
        nrm = result["normalized"]
        plan = nrm._jdf.queryExecution().executedPlan().toString()
        surf = nrm.select("word", "type", "method", "canonical").distinct().toPandas()
        n = max(1, len(surf))
        size, files = _tree(self.out)
        return {
            "normalize.distinct_surfaces": len(surf),
            "normalize.exact_share": float((surf["method"] == "exact").sum()) / n,
            "normalize.fuzzy_share": float(((surf["method"] == "fuzzy") & (surf["canonical"] != "")).sum()) / n,
            "normalize.sentinel_share": float((surf["canonical"] == "").sum()) / n,
            # the distributed path scores surfaces in Arrow UDFs; the local
            # path joins a table of surfaces already resolved in-process
            "normalize.driver_path": 0.0 if "ArrowEvalPython" in plan else 1.0,
            "pipeline.sink.bytes_written": size,
            "pipeline.sink.files": files,
        }

    def _read_outputs(self, spark) -> dict[str, list[tuple]]:
        def rows(name, cols):
            return rows_of(spark.read.parquet(os.path.join(self.out, name)).toPandas(), cols)

        return {
            "mentions": rows("mentions", MENTION_COLS),
            "triples": rows("triples", TRIPLE_COLS),
            "nodes": rows("nodes", NODE_COLS),
            "edges": rows("edges", EDGE_COLS),
        }

    def verify(self, spark, result: dict) -> list[str]:
        got = self._read_outputs(spark)
        return (
            diff("mentions", got["mentions"], self.twin.mentions)
            + diff("triples", got["triples"], self.twin.triples)
            + diff("nodes", got["nodes"], self.twin.nodes)
            + diff("edges", got["edges"], self.twin.edges)
        )


class BatchBert(BatchGazetteer):
    """Same pipeline and sink with the numpy-BERT checkpoint. Mentions are
    checked on a seeded page sample against an in-process recompute from
    the same checkpoint; the first pass's full mention list is then pinned,
    and the twin derives triples, nodes and edges from it."""

    name = "kg_batch_bert"
    n_pages = 3600
    alias = False  # the run_pipeline.py --checkpoint path passes no alias edges

    def expect(self, corpus: dict) -> dict:
        self.corpus = corpus
        self.twin = None
        rng = random.Random(self.seed)
        self.sample = rng.sample(corpus["pages"], 48)
        return {}

    def prepare(self, spark, corpus: dict) -> None:
        super().prepare(spark, corpus)
        self._load_model()

    def attach(self, spark, mentions: list[tuple]) -> None:
        self.expect(self.corpus)
        self._load_model()

    def _load_model(self) -> None:
        ckpt = os.path.join(self.inputs, "ner.npz")
        self.model_info = bert.build_checkpoint(self.corpus, self.seed, ckpt)
        self.model, self.vocab = classifier_from_checkpoint(ckpt)

    def model_args(self, tracer) -> dict:
        if tracer is None:
            return {"model": self.model, "label_vocab": self.vocab}
        sc = tracer.sc
        self.accs = [sc.accumulator(0) for _ in range(3)]
        return {"model": bert.CountingClassifier(self.model, *self.accs), "label_vocab": self.vocab}

    def verify(self, spark, result: dict) -> list[str]:
        got = self._read_outputs(spark)
        if self.twin is None:
            sample_urls = {p["url"] for p in self.sample}
            want = bert.expected_sample_mentions(self.model, self.vocab.itos, self.sample)
            have = [m for m in got["mentions"] if m[0] in sample_urls]
            errs = diff("sample mentions", have, want)
            if errs:
                return errs
            self.twin = Twin(got["mentions"], self.corpus["dim"], None)
        return (
            diff("mentions", got["mentions"], self.twin.mentions)
            + diff("triples", got["triples"], self.twin.triples)
            + diff("nodes", got["nodes"], self.twin.nodes)
            + diff("edges", got["edges"], self.twin.edges)
        )

    def counters(self, spark, result: dict) -> dict[str, float]:
        calls, real, padded = (a.value for a in self.accs)
        return {
            **super().counters(spark, result),
            "ner.forward_calls": calls,
            "ner.tokens_real": real,
            "ner.tokens_padded": padded,
            "ner.pad_useful_ratio": real / padded if padded else 0.0,
        }

    def descriptors(self) -> dict:
        sents = sum(len(bert.page_sentences(p)) for p in self.corpus["pages"])
        d = dict(self.model_info)
        if self.twin is not None:
            d.update(self.twin.descriptors)
            d["mentions_per_sentence"] = self.twin.descriptors["mentions"] / max(1, sents)
        return d


class Resume(Workload):
    """Traced companion: ``resume_run(write_triples=True)`` from an empty
    ledger, then the rerun over the fully committed ledger."""

    name = "kg_resume"
    n_buckets = 4

    def run(self, spark, tracer) -> dict:
        base = os.path.join(self.work, "ledger")
        shutil.rmtree(base, ignore_errors=True)

        def call():
            resume_run(
                spark, self.read(spark, "pages"), self.read(spark, "dim"),
                self.term_types, base, n_buckets=self.n_buckets, write_triples=True,
            )

        with tracer.span(self.name):
            with tracer.span("ledger") as first:
                call()
            first["rows_in"] = self.n_pages
            first["rows_out"] = len(self.twin.triples)
            errs = self._check(spark, base, 1)
            with tracer.span("ledger.rerun") as rerun:
                call()
        return {"rerun": rerun["end"] - rerun["start"], "base": base, "errors": errs}

    def _check(self, spark, base: str, triple_commits: int) -> list[str]:
        triples = rows_of(spark.read.parquet(os.path.join(base, "triples")).toPandas(), TRIPLE_COLS)
        mentions = rows_of(
            spark.read.parquet(
                *[os.path.join(base, "mentions", f"bucket={b}") for b in range(self.n_buckets)]
            ).toPandas(),
            MENTION_COLS,
        )
        ledger = MetricsLedger(base).rows()
        commits = [r for r in ledger if r["stage"] == "mentions"]
        errs = diff("triples", triples, self.twin.triples) + diff("mentions", mentions, self.twin.mentions)
        if sorted(r["bucket"] for r in commits) != list(range(self.n_buckets)):
            errs.append(f"ledger: mention commits for buckets {sorted(r['bucket'] for r in commits)}")
        if sum(r["stage"] == "triples" for r in ledger) != triple_commits:
            errs.append(f"ledger: {sum(r['stage'] == 'triples' for r in ledger)} triples commits, want {triple_commits}")
        return errs

    def verify(self, spark, result: dict) -> list[str]:
        return result["errors"] + self._check(spark, result["base"], 2)

    def counters(self, spark, result: dict) -> dict[str, float]:
        walls = [r["wall_sec"] for r in MetricsLedger(result["base"]).rows() if r["stage"] == "mentions"]
        return {
            "ledger.commits": len(walls),
            "ledger.bucket_wall_p50_s": statistics.median(walls),
            "ledger.rerun_s": result["rerun"],
        }


class Stream(Workload):
    """Traced companion: ``streaming_triples`` over a parquet file stream of
    the corpus, run with ``availableNow`` into a memory sink in complete
    mode."""

    name = "kg_stream"
    n_files = 8

    def attach(self, spark, mentions: list[tuple]) -> None:
        super().attach(spark, mentions)
        self.src = os.path.join(self.inputs, "stream")
        pages = self.read(spark, "pages")
        pages.repartitionByRange(self.n_files, "warc_ts").write.parquet(self.src)
        self.schema = pages.schema
        self.n_query = 0

    def run(self, spark, tracer) -> dict:
        self.n_query += 1
        name = f"kg_stream_{self.n_query}"
        ckpt = os.path.join(self.work, "checkpoints", name)
        with tracer.span(self.name):
            with tracer.span("stream") as s:
                agg = streaming_triples(
                    stream_pages(spark, self.src, self.schema), self.read(spark, "dim"), self.term_types
                )
                q = (
                    agg.writeStream.format("memory").queryName(name).outputMode("complete")
                    .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
                )
                q.awaitTermination()
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        s["rows_in"] = self.n_pages
        s["rows_out"] = sum(p["numInputRows"] for p in progress)
        return {"name": name, "ckpt": ckpt, "progress": progress, "exception": q.exception()}

    def verify(self, spark, result: dict) -> list[str]:
        if result["exception"] is not None:
            return [f"stream query failed: {result['exception']}"]
        got = spark.sql(
            f"select subj, '{DEFAULT_PRED}' as pred, obj, sum(count) as count "
            f"from {result['name']} group by subj, obj"
        ).toPandas()
        errs = diff("window sums", rows_of(got, TRIPLE_COLS), self.twin.triples)
        if len(result["progress"]) != self.n_files // 4:
            errs.append(f"{len(result['progress'])} micro-batches, want {self.n_files // 4}")
        return errs

    def release(self, spark, result: dict) -> None:
        super().release(spark, result)
        spark.catalog.dropTempView(result["name"])
        shutil.rmtree(result["ckpt"], ignore_errors=True)

    def counters(self, spark, result: dict) -> dict[str, float]:
        prog = result["progress"]
        state = prog[-1]["stateOperators"][0] if prog and prog[-1]["stateOperators"] else {}
        return {
            "stream.batches": len(prog),
            "stream.state_rows": state.get("numRowsTotal", 0),
            "stream.state_bytes": state.get("memoryUsedBytes", 0),
            "stream.microbatch_s": statistics.median(
                p["durationMs"]["triggerExecution"] / 1000.0 for p in prog
            ),
        }


WORKLOADS = {w.name: w for w in (BatchGazetteer, BatchBert)}
COMPANIONS = {
    BatchGazetteer.name: (BatchBert, Resume, Stream),
    BatchBert.name: (BatchGazetteer, Resume, Stream),
}
