"""One benchmark run inside one Spark process (started by ``run.py``).

Generates the workload's inputs from the seed, starts the engine's
session, prints ``READY`` once the inputs are opened, then runs whole
rounds of the workload's operations until the measuring time is used,
checking every result.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import gen  # noqa: E402
from tracing import Clock, Tracer, tree_cpu_s  # noqa: E402


def engine(module: str):
    """An engine module by dotted name (``tfidf`` and ``search`` are
    shadowed by same-named functions on the package)."""
    return importlib.import_module(f"hadoop_tfidf_spark.{module}")


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path) for f in files
        if not f.startswith(".") and not f.startswith("_")
    )


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


#: Operation kinds whose medians are end-to-end metrics.
TIMED_KINDS = ("build", "query", "rewrite")


class Ops:
    """Counts operations; an operation fails when it raises or when its
    result fails a check."""

    def __init__(self):
        self.attempted = self.failed = 0
        #: operation kinds whose result failed a check
        self.wrong: set[str] = set()
        self.wall: dict[str, list[float]] = {}
        self.cpu: dict[str, list[float]] = {}

    def run(self, kind: str, fn) -> None:
        """Run ``fn() -> ((wall, cpu), error)``; keep the times if it passed."""
        self.attempted += 1
        try:
            (wall, cpu), error = fn()
        except Exception:  # a failed operation is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return
        if error is not None:
            print(f"CHECK FAILED {kind}: {error}", file=sys.stderr, flush=True)
            self.failed += 1
            self.wrong.add(kind)
            return
        self.wall.setdefault(kind, []).append(wall)
        self.cpu.setdefault(kind, []).append(cpu)
        print(f"op {kind}: {wall:.3f} s wall, {cpu:.3f} s cpu", flush=True)

    def median(self, kind: str, cpu: bool = True) -> float | None:
        """Median time of the operations of ``kind`` that passed, or
        ``None`` when none did."""
        samples = (self.cpu if cpu else self.wall).get(kind)
        return statistics.median(samples) if samples else None


def summarize(ops: Ops, recalls: list[tuple[float, int]]) -> dict:
    """End-to-end metrics from the operations that passed: wall and CPU
    medians per timed kind, and the weighted mean of ``(recall, weight)``
    pairs. A metric with no passing operation behind it is left out."""
    out = {}
    for kind in TIMED_KINDS:
        if ops.median(kind) is not None:
            out[f"{kind}_s"] = ops.median(kind, cpu=False)
            out[f"{kind}_cpu_s"] = ops.median(kind)
    weight = sum(n for _, n in recalls)
    if weight:
        out["recall"] = sum(r * n for r, n in recalls) / weight
    return out


class Part:
    """Shared state of one workload part: session, tracer, generated data,
    its input directory and an output directory."""

    def __init__(self, spark, tr: Tracer, data: dict, inputs: str, out: str, ops: Ops):
        self.spark, self.tr, self.data, self.inputs, self.out, self.ops = (
            spark, tr, data, inputs, out, ops)
        self.n_out = 0

    def next_dir(self, name: str) -> str:
        self.n_out += 1
        return f"{self.out}/{name}_{self.n_out}"


class TfidfSearch(Part):
    """Corpus -> stored TF-IDF index, then search + rank top-10 queries."""

    def __init__(self, *a):
        super().__init__(*a)
        d = self.data
        self.oracle = checks.TfidfOracle(d["vocab"], d["ids"], d["lens"])
        rng = np.random.default_rng(len(d["lens"]))
        self.sample_docs = sorted(rng.choice(len(d["lens"]), 12, replace=False).tolist())
        self.expected_rows = self.oracle.doc_rows(self.sample_docs)
        self.scores = {q: self.oracle.scores(q) for q in d["queries"] + [d["oov_query"]]}
        self.index, self.n_query = None, 0

    def build(self, src: str, check: bool = True):
        corpus, tfidf_mod, sinks = engine("corpus"), engine("tfidf"), engine("sinks")
        path = self.next_dir("tfidf_index")
        c = self.tr.start("tfidf.tfidf")
        clock = Clock()
        docs = corpus.load_docs(self.spark, src)
        tokens = corpus.tokenize(docs)
        scored = c.construct(tfidf_mod.tfidf, docs, tokens=tokens)
        self.tr.call("sinks.write_parquet", sinks.write_parquet, scored, path)
        seconds = clock.stop()
        self.tr.probe("corpus.tokenize", noop_write, tokens)
        self.tr.probe(c, noop_write, scored)
        if self.index is not None:
            shutil.rmtree(self.index, ignore_errors=True)
        self.index = path
        if not check:
            return seconds, None
        self.tr.record("sinks.write_parquet.stored_bytes", dir_bytes(path))
        from pyspark.sql import functions as F
        rows = (
            self.spark.read.parquet(path)
            .where(F.col("doc_id").isin(self.sample_docs))
            .select("word", "doc_id", "tf", "df", "tfidf").collect()
        )
        return seconds, checks.check_index_rows(rows, self.expected_rows)

    def next_query(self) -> str:
        queries = self.data["queries"]
        self.n_query += 1
        return queries[(self.n_query - 1) % len(queries)]

    def query(self, text: str, check: bool = True):
        search = engine("search")
        from pyspark.sql import functions as F
        c = self.tr.start("search.search_rank")
        clock = Clock()

        def plan():
            index = self.spark.read.parquet(self.index)
            bag = search.query_term_bag(self.spark, [("q", text)])
            return search.rank(search.search(index, bag)).where(F.col("rnk") <= checks.TOP_K)

        rows = c.execute(c.construct(plan).select("doc_id", "score", "rnk").collect)
        seconds = clock.stop()
        if not check:
            return seconds, None
        return seconds, checks.check_top10([tuple(r) for r in rows], self.scores[text])


class Curate(Part):
    """curate_corpus -> parquet, then contamination_bloom against the
    held-out benchmark set."""

    def __init__(self, *a):
        super().__init__(*a)
        d = self.data
        self.n_docs = len(d["texts"])
        self.exact = checks.exact_contamination(d["texts"], d["bench"])
        self.contaminated = [doc for doc, _ in d["planted"]["contam"]]
        self.near_dropped, self.prev = [], None

    def curate(self, src: str, check: bool = True):
        corpus, pipeline, sinks = engine("corpus"), engine("pipeline"), engine("sinks")
        path = self.next_dir("curated")
        c = self.tr.start("pipeline.curate_corpus")
        clock = Clock()
        docs = corpus.load_docs(self.spark, src)
        curated = c.construct(pipeline.curate_corpus, docs)
        c.execute(sinks.write_parquet, curated, path)
        seconds = clock.stop()
        if self.tr.enabled:
            text, dedup = engine("functions.text"), engine("operators.dedup")
            from pyspark.sql import functions as F
            lang, _ = text.lang_id_columns(F.col("text"))
            self.tr.probe("text.annotate", noop_write, docs.select(
                "doc_id", lang.alias("pred_lang"), text.quality_column(F.col("text")).alias("quality")))
            pairs = self.tr.probe("dedup.minhash_lsh_dedup", lambda: dedup.minhash_lsh_dedup(docs).count())
            self.tr.record("dedup.minhash_lsh_dedup.pairs", pairs)
        # curate_corpus leaves its annotated relation persisted; without
        # this the next pass over the same corpus reads it from the cache
        # and skips lang-id and quality (CHANGES.md, FOUND)
        self.spark.catalog.clearCache()
        if self.prev is not None:
            shutil.rmtree(self.prev, ignore_errors=True)
        self.prev = path
        if not check:
            return seconds, None
        table = pq.read_table(path, columns=["doc_id", "split"])
        rows = list(zip(table["doc_id"].to_pylist(), table["split"].to_pylist()))
        share, error = checks.check_curated(rows, self.data["planted"], self.data["texts"])
        if error is None:
            self.near_dropped.append((share, 1))
        return seconds, error

    def decontaminate(self, src: str, bench: str, check: bool = True):
        corpus, text = engine("corpus"), engine("functions.text")
        c = self.tr.start("text.contamination_bloom")
        clock = Clock()
        docs = corpus.load_docs(self.spark, src)
        bench_docs = corpus.load_docs(self.spark, bench)
        plan = c.construct(text.contamination_bloom, docs, bench_docs)
        rows = c.execute(plan.collect)
        seconds = clock.stop()
        if not check:
            return seconds, None
        return seconds, checks.check_bloom([tuple(r) for r in rows], self.exact, self.contaminated)


class Text:
    """``text`` workload: TF-IDF build and search on one corpus, curation
    and decontamination of another, in one engine process."""

    #: CPU per build still falls over the first builds after the warm-up
    #: (e.g. 5.5, 3.9, 3.4 CPU-s), so the median is taken over five.
    BUILDS = 5
    WARMUP_BUILDS = 2
    WARMUP_QUERIES = 2
    KNOWN_FAULTS: frozenset[str] = frozenset()

    def __init__(self, spark, tr, data, inputs, out, ops):
        self.ops = ops
        self.tfidf = TfidfSearch(spark, tr, data["tfidf"], f"{inputs}/tfidf", out, ops)
        self.cur = Curate(spark, tr, data["curate"], f"{inputs}/curate", out, ops)

    def warm_up(self):
        """Unchecked, repeated passes of every operation: a query still got
        ~40 % cheaper over the first six after a single warm-up call. The
        TF-IDF builds run over the whole corpus: after two builds of a
        200-document slice, three full builds still cost ~8.5, ~5 and
        ~4 CPU-s in turn."""
        t, c = self.tfidf, self.cur
        for _ in range(self.WARMUP_BUILDS):
            t.build(f"{t.inputs}/documents.parquet", check=False)
            for q in t.data["queries"][:self.WARMUP_QUERIES]:
                t.query(q, check=False)
        c.curate(f"{c.inputs}/warmup.parquet", check=False)
        c.decontaminate(f"{c.inputs}/warmup.parquet", f"{c.inputs}/bench.parquet", check=False)

    def round(self):
        t, c = self.tfidf, self.cur
        for _ in range(self.BUILDS):
            self.ops.run("build", lambda: t.build(f"{t.inputs}/documents.parquet"))
            text = t.next_query()
            self.ops.run("query", lambda: t.query(text))
        # checked in every round, in no metric: it returns nothing
        self.ops.run("oov_query", lambda: t.query(t.data["oov_query"]))
        src = f"{c.inputs}/documents.parquet"
        self.ops.run("rewrite", lambda: c.curate(src))
        self.ops.run("scan", lambda: c.decontaminate(src, f"{c.inputs}/bench.parquet"))

    def metrics(self):
        ops, n_cur = self.ops, self.cur.n_docs
        e2e = summarize(ops, self.cur.near_dropped)
        named = {
            "tfidf_docs": (len(self.tfidf.data["lens"]), "docs"),
            "curate_docs": (n_cur, "docs"),
        }
        if "build_s" in e2e:
            named["tfidf_build_s"] = (e2e["build_s"], "s")
            named["tfidf_index_bytes"] = (dir_bytes(self.tfidf.index), "bytes")
        if "query_s" in e2e:
            named["search_p50_s"] = (e2e["query_s"], "s")
        if "rewrite_s" in e2e:
            named["curate_docs_per_s"] = (n_cur / e2e["rewrite_s"], "docs/s")
            named["curated_bytes"] = (dir_bytes(self.cur.prev), "bytes")
        if ops.median("scan") is not None:
            named["decontam_docs_per_s"] = (n_cur / ops.median("scan", cpu=False), "docs/s")
        if "recall" in e2e:
            named["near_copy_drop_share"] = (e2e["recall"], "ratio")
        return e2e, named


class AnnIndex(Part):
    """``ann_index`` workload: build_knn_index -> load_index -> serve_knn
    -> extend_index slices -> serve_knn over the extended index, then the
    twin check against the fixed index the warm-up built."""

    KIND = "ivfpq_res"
    #: serve_knn batches before the extends, and again after them
    SERVES = 1
    #: The twin check fails in every round on its fixed inputs, a fault of
    #: the engine (``CHANGES.md``). It counts as a failed operation;
    #: ``correct`` speaks of the operations that did not fail.
    KNOWN_FAULTS = frozenset({"twin_check"})

    def __init__(self, spark, tr, data, inputs, out, ops):
        super().__init__(spark, tr, data["main"], f"{inputs}/main", out, ops)
        self.twin_data, self.twin_inputs = data["twin"], f"{inputs}/twin"
        self.vec = dict(zip(self.data["base_ids"].tolist(), self.data["base"]))
        self.n_batch = self.n_twin = 0
        self.recalls, self.bytes = [], []
        self.twin_index = None

    def serve(self, emb, index, ids, check):
        store = engine("operators.index_store")
        c = self.tr.start("index_store.serve_knn")
        clock = Clock()
        plan = c.construct(store.serve_knn, emb, index, ids, k=checks.TOP_K)
        rows = c.execute(plan.select("query_id", "vec_id").collect)
        seconds = clock.stop()
        got: dict[int, list[int]] = {}
        for q, v in rows:
            got.setdefault(int(q), []).append(int(v))
        return seconds, (check(got) if check else None)

    def knn_check(self, ids, vec_ids, vecs):
        """recall@10 against numpy exact L2; each query k distinct ids."""
        def check(got):
            exact = {q: checks.exact_knn(vec_ids, vecs, q, self.vec[q]) for q in ids}
            recall, error = checks.check_knn(got, exact)
            if error is None:
                self.recalls.append((recall, len(ids)))
            return error
        return check

    def lifecycle(self, inputs: str, path: str):
        """build -> load -> extend slices -> load as operation thunks,
        sharing the loaded index through ``holder``."""
        store = engine("operators.index_store")
        from pyspark.sql import functions as F
        emb = self.spark.read.parquet(f"{inputs}/embeddings.parquet")
        ext = self.spark.read.parquet(f"{inputs}/ext.parquet")
        holder = {}

        def build():
            clock = Clock()
            self.tr.call("index_store.build_knn_index", store.build_knn_index,
                         emb, self.KIND, path, in_dim=gen.ANN_DIM)
            return clock.stop(), None

        def load():
            clock = Clock()
            holder["index"] = self.tr.call("index_store.load_index", store.load_index, self.spark, path)
            return clock.stop(), None

        def extend(s):
            new = ext.where(F.col("slice") == s).select("vec_id", "embedding")
            clock = Clock()
            self.tr.call("index_store.extend_index", store.extend_index, self.spark, path, new)
            return clock.stop(), None

        return emb, holder, build, load, extend

    def warm_up(self):
        """Every operation once, unchecked, over the fixed twin-check
        inputs; the index it leaves, extended by their first slice, is
        what every round's twin check serves."""
        path = f"{self.out}/twin_index"
        emb, holder, build, load, extend = self.lifecycle(self.twin_inputs, path)
        build()
        extend(0)
        load()
        self.twin_emb, self.twin_index = emb, holder["index"]
        self.twin_check()

    def twin_check(self):
        """Every extended vector of the fixed inputs is a copy of its twin,
        so it must appear in the twin's top-10."""
        d = self.twin_data
        first = d["slices"] == 0
        pairs = list(zip(d["twin_of"][first].tolist(), d["ext_ids"][first].tolist()))
        return self.serve(self.twin_emb, self.twin_index, [q for q, _ in pairs],
                          lambda got: checks.check_twins(got, pairs))

    def round(self):
        d = self.data
        path = self.next_dir("ann_index")
        emb, holder, build, load, extend = self.lifecycle(self.inputs, path)
        vec_ids, vecs = d["base_ids"], d["base"]
        self.ops.run("build", build)
        self.ops.run("load", load)
        for _ in range(self.SERVES):
            ids = [int(x) for x in d["batches"][self.n_batch % len(d["batches"])]]
            self.n_batch += 1
            self.ops.run("query", lambda ids=ids: self.serve(
                emb, holder["index"], ids, self.knn_check(ids, vec_ids, vecs)))
        for s in range(gen.ANN_SLICES):
            self.ops.run("rewrite", lambda s=s: extend(s))
        self.bytes.append(dir_bytes(path))
        self.tr.record("index_store.stored_bytes", self.bytes[-1])
        all_ids = np.concatenate([vec_ids, d["ext_ids"]])
        all_vecs = np.concatenate([vecs, d["ext"]])
        self.ops.run("load", load)
        twins = d["twin_of"].tolist()
        twin_ids = [twins[(self.n_twin + j) % len(twins)] for j in range(gen.ANN_TWINS)]
        self.n_twin += gen.ANN_TWINS
        ids = twin_ids + [int(x) for x in d["batches"][self.n_batch % len(d["batches"])]
                          if x not in twin_ids][: gen.ANN_BATCH - gen.ANN_TWINS]
        for i in range(self.SERVES):
            if i:
                ids = [int(x) for x in d["batches"][self.n_batch % len(d["batches"])]]
            self.n_batch += 1
            self.ops.run("query", lambda ids=ids: self.serve(
                emb, holder["index"], ids, self.knn_check(ids, all_ids, all_vecs)))
        self.ops.run("twin_check", self.twin_check)
        shutil.rmtree(path, ignore_errors=True)

    def metrics(self):
        e2e = summarize(self.ops, self.recalls)
        named = {"ann_index_bytes": (statistics.median(self.bytes), "bytes")}
        for name, key in (("ann_build_s", "build_s"), ("ann_query_p50_s", "query_s"),
                          ("ann_extend_s", "rewrite_s"), ("ann_recall_at_10", "recall")):
            if key in e2e:
                named[name] = (e2e[key], "ratio" if key == "recall" else "s")
        return e2e, named


WORKLOADS = {"text": Text, "ann_index": AnnIndex}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--event-dir", default=None)
    a = ap.parse_args()

    inputs, out = f"{a.work}/inputs", f"{a.work}/out"
    wall0, cpu0 = time.perf_counter(), time.process_time()
    data = gen.generate(a.workload, a.seed, inputs)
    gen_wall, gen_cpu = time.perf_counter() - wall0, time.process_time() - cpu0
    os.makedirs(out, exist_ok=True)

    tr = Tracer(bool(a.trace))
    session = engine("session")
    spark = tr.call("session.get_spark", session.get_spark)
    tr.spark = spark
    for root, _, files in os.walk(inputs):
        for f in files:
            if f.endswith(".parquet"):
                spark.read.parquet(os.path.join(root, f)).schema  # open every input
    # set-up cost: CPU seconds of this process tree so far, generation excluded
    print(f"READY {gen_wall:.6f} {tree_cpu_s() - gen_cpu:.6f}", flush=True)

    ops = Ops()
    wl = WORKLOADS[a.workload](spark, tr, data, inputs, out, ops)
    # first calls in a fresh process pay JIT compilation, class loading
    # and Python worker start-up; the warm-up pays them outside any metric
    warm = Clock()
    tr.enabled, enabled = False, tr.enabled
    wl.warm_up()
    tr.enabled = enabled
    wall, cpu = warm.stop()
    print(f"warm-up: {wall:.3f} s wall, {cpu:.3f} s cpu (not a metric)", flush=True)

    start = time.perf_counter()
    round_wall, round_cpu = [], []
    while True:
        clock, probes = Clock(), list(tr.probe_s)
        wl.round()
        wall, cpu = clock.stop()
        round_wall.append(wall - (tr.probe_s[0] - probes[0]))
        round_cpu.append(cpu - (tr.probe_s[1] - probes[1]))
        # start another whole round only if it should end within the time
        if time.perf_counter() - start + statistics.median(round_wall) > a.seconds:
            break
    print(f"measured {len(round_wall)} rounds in {time.perf_counter() - start:.3f} s", flush=True)

    e2e, named = wl.metrics()
    e2e["round_s"] = statistics.median(round_wall)
    e2e["round_cpu_s"] = statistics.median(round_cpu)
    spark.stop()
    result = {
        "correct": not ops.wrong - wl.KNOWN_FAULTS,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "e2e": e2e,
        "named": named,
    }
    if a.trace:
        result["layers"] = tr.layer_metrics(a.event_dir)
    print("RESULT " + json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
