"""Collection benchmark for ``vector_db_ingestor_spark``.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 8 --trace 0

Run from the repository root.  One closed-loop client, no threads, on
``local[<cpus>]``.  Workloads (see perfbench/README.md for sizes, the
layer -> end-to-end map and measured spreads):

* ``serve``  - read path: synthetic-PDF corpus -> build_chunks ->
  overwrite -> build_ann_index(ivfpq) in set-up; one op is a 16-query
  ``search_ann(refine=True)`` collected, then ``context_for_rag``.
* ``curate`` - batch dedup over a corpus with planted near-duplicates;
  one op is ``minhash_verified_pairs`` + ``simhash_near_dups`` +
  ``embedding_near_dups``, each collected.  Touches no collection or
  index.

Every op's output is checked against a driver-side reference
(perfbench/checks.py).  ``--trace 1`` records per-layer numbers
(perfbench/tracer.py) for every traced call; calls the workload itself
does not make are run once after its window (write path: build_chunks
-> append -> ann_absorb, then ann_maintain), so each traced run reports
every layer.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics untraced, per-layer
metrics traced).  The line before it carries host-noise readings.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import resource
import shutil
import signal
import statistics
import sys
import time

T_START = time.perf_counter()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [ROOT, HERE]

# full = the sf0.1 fixture's table sizes; smoke = sf0.001's (selftest)
SIZES = {
    "full": dict(docs=5000, batch=200, probe_queries=128, text_dups=250,
                 vecs=2000, vec_dups=100),
    "smoke": dict(docs=500, batch=20, probe_queries=32, text_dups=25,
                  vecs=500, vec_dups=20),
}
OP_QUERIES = 16      # queries per serve op (one Chroma query_texts batch)
QUERY_POOL = 4       # serve ops cycle through this many seeded batches
N_RESULTS = 5
MIN_OPS = 2          # timed ops per run, however long they take
WRITE_STEPS = 1      # append + absorb batches in the write-path tour
DRIVER_MEM = "2g"
DEADLINE_S = 170     # the process must end within 180 s
CHUNK_SIZE, OVERLAP = 200, 30
MINHASH_T, SIMHASH_H, EMBED_T = 0.5, 3, 0.9


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("serve", "curate"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="sf0.001-sized inputs (perfbench/selftest.py)")
    return p.parse_args(argv)


def pin_env(work: str) -> None:
    """Environment the Spark driver and its Python workers need; set
    before the JVM starts, so it inherits it."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    # keep the JVM's temp files (and its hsperfdata) out of /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


class HostNoise:
    """/proc/stat steal and iowait and the load average over a window."""

    @staticmethod
    def _cpu():
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        tick = os.sysconf("SC_CLK_TCK")
        return vals[4] / tick, (vals[7] if len(vals) > 7 else 0) / tick

    def __init__(self):
        self.iowait0, self.steal0 = self._cpu()
        self.load0 = os.getloadavg()[0]

    def read(self) -> dict:
        iowait, steal = self._cpu()
        return {
            "steal_s": round(steal - self.steal0, 3),
            "iowait_s": round(iowait - self.iowait0, 3),
            "load1_start": self.load0,
            "load1_end": os.getloadavg()[0],
        }


class Bench:
    """One process's Spark session, inputs, tracer and op accounting."""

    def __init__(self, args, work: str):
        from vector_db_ingestor_spark.session import get_spark
        from tracer import Tracer

        self.args = args
        self.work = work
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        session_s = time.perf_counter() - t0
        self.tracer = Tracer(self.spark, bool(args.trace))
        self.tracer.note(
            "session", wall_s=session_s, driver_s=session_s, jobs=0, tasks=0,
            executor_run_s=0.0, shuffle_write_mb=0.0, spill_mb=0.0,
            jvm_gc_s=self.tracer.gc_s() if args.trace else 0.0,
        )
        self.attempted = 0
        self.failed = 0
        self.n_ops = 0
        self.checked: set[str] = set()  # names of the checks that ran
        self.problems: list[str] = []
        self._n_coll = 0

    # ------------------------------------------------------------ inputs
    def write_docs(self, name: str, docs) -> str:
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = os.path.join(self.work, name + ".parquet")
        ids, sources, texts = zip(*docs)
        pq.write_table(
            pa.table({"doc_id": pa.array(ids, pa.int64()),
                      "source": list(sources), "text": list(texts)}),
            path,
        )
        return path

    def write_vectors(self, mat) -> str:
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = os.path.join(self.work, "vectors.parquet")
        pq.write_table(
            pa.table({
                "vec_id": pa.array(range(len(mat)), pa.int64()),
                "embedding": pa.array(list(mat), pa.list_(pa.float32())),
                "label": pa.array([i % 10 for i in range(len(mat))], pa.int32()),
            }),
            path,
        )
        return path

    def files(self, docs_path: str):
        """Documents wrapped as synthetic single-stream PDFs (the
        q_ingest_pipeline wrapping)."""
        from pyspark.sql import functions as F

        d = self.spark.read.parquet(docs_path)
        return d.select(
            F.concat(F.lit("mem://"), F.col("doc_id")).alias("source"),
            F.concat(F.col("source"), F.lit("_"), F.col("doc_id"),
                     F.lit(".pdf")).alias("filename"),
            F.to_binary(
                F.concat(F.lit("stream\n("), F.col("text"),
                         F.lit(") Tj\nendstream")),
                F.lit("utf-8"),
            ).alias("content"),
        )

    # ------------------------------------------------------------- steps
    def build_collection(self, docs_path: str):
        """build_chunks -> overwrite -> build_ann_index(ivfpq) into a
        fresh collection directory."""
        from vector_db_ingestor_spark.pipeline import VectorCollection, build_chunks

        self._n_coll += 1
        coll = VectorCollection(
            self.spark, os.path.join(self.work, f"coll{self._n_coll}")
        )
        chunks = build_chunks(
            self.files(docs_path), metadata={"category": "bench"},
            chunk_size=CHUNK_SIZE, overlap=OVERLAP,
        )
        with self.tracer.span("overwrite"):
            coll.overwrite(chunks)
        with self.tracer.span("build_ann_index"):
            coll.build_ann_index(kind="ivfpq")
        return coll

    def op(self, fn) -> float:
        """Run one op ``fn(op_index)``, between a cache release and a
        Python GC that stay outside its time; an exception or a failed
        check counts as failed.  Returns the op's wall time."""
        from vector_db_ingestor_spark.caching import release_all

        release_all()
        gc.collect()
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            problem = fn(self.n_ops)
        except Exception as e:  # noqa: BLE001 - a failed op is a result
            problem = f"{type(e).__name__}: {e}"[:300]
        wall = time.perf_counter() - t0
        self.n_ops += 1
        self.count(problem)
        return wall

    def count(self, problem: str | None) -> None:
        if problem:
            self.failed += 1
            self.problems.append(problem)

    def loop(self, fn, seconds: float) -> list[float]:
        """Closed loop: start ops until ``seconds`` have elapsed and at
        least MIN_OPS ops ran."""
        times: list[float] = []
        t_end = time.perf_counter() + seconds
        while len(times) < MIN_OPS or time.perf_counter() < t_end:
            times.append(self.op(fn))
        return times

    def live_heap_mb(self) -> float:
        """JVM heap in use right after a full GC: what the program still
        holds.  (A peak would depend on when G1 happened to collect.)"""
        jvm = self.spark.sparkContext._jvm
        jvm.java.lang.System.gc()
        mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        return mem.getHeapMemoryUsage().getUsed() / 2**20

    def stop(self) -> None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        self.spark.stop()
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=30)


# ---------------------------------------------------------------- serve
class Serve:
    # untimed ops before the window, counted in setup_s: the probe
    # queries in two halves
    warmups = 2

    def __init__(self, b: Bench, size: dict):
        import inputs

        self.b, self.size = b, size
        seed = b.args.seed
        self.docs = inputs.corpus(seed, size["docs"])
        qs = inputs.queries(seed, self.docs,
                            OP_QUERIES * QUERY_POOL + size["probe_queries"])
        self.batches = [qs[i * OP_QUERIES:(i + 1) * OP_QUERIES]
                        for i in range(QUERY_POOL)]
        probe = qs[OP_QUERIES * QUERY_POOL:]
        half = len(probe) // 2
        self.probe = [probe[:half], probe[half:]]
        self.probe_rows: list[list] = []
        self._warmed = 0

    def setup(self):
        import numpy as np

        from checks import ExactIndex
        from vector_db_ingestor_spark.embedding import HashingEmbedder

        b = self.b
        self.docs_path = b.write_docs("corpus", self.docs)
        self.coll = b.build_collection(self.docs_path)
        rows = self.coll.df().select("chunk_uid", "embedding", "text").collect()
        self.exact = ExactIndex([r[0] for r in rows],
                                np.array([r[1] for r in rows], dtype=np.float64))
        self.texts = {r[0]: r[2] for r in rows}
        self.embed = HashingEmbedder().embed_one

    def items_per_op(self) -> int:
        return OP_QUERIES

    def run_op(self, i: int) -> str | None:
        return self._query(self.batches[i % QUERY_POOL])

    def warmup_op(self, i: int) -> str | None:
        """The op over one half of the probe queries; their hits give
        ``quality``."""
        half = self.probe[self._warmed]
        self._warmed += 1
        return self._query(half, keep=True)

    def _query(self, batch: list[str], keep: bool = False) -> str | None:
        b, coll = self.b, self.coll
        with b.tracer.span("search_ann") as x:
            t0 = time.perf_counter()
            df = coll.search_ann(batch, kind="ivfpq", refine=True,
                                 n_results=N_RESULTS)
            x["build_s"] = time.perf_counter() - t0
            rows = df.select("query_id", "rank", "chunk_uid", "score").collect()
        with b.tracer.span("context_for_rag"):
            context = coll.context_for_rag(batch[0])
        if keep:
            self.probe_rows.append(rows)
        return self.check_hits(batch, rows) or self.check_context(batch[0], context)

    def check_hits(self, batch, rows) -> str | None:
        self.b.checked.add("search_ann.hits")
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r)
        if sorted(by_q) != list(range(len(batch))):
            return f"search_ann: answered queries {sorted(by_q)}"
        for q, hits in by_q.items():
            hits.sort(key=lambda r: r["rank"])
            if [h["rank"] for h in hits] != list(range(1, N_RESULTS + 1)):
                return f"search_ann: query {q} ranks {[h['rank'] for h in hits]}"
            uids = [h["chunk_uid"] for h in hits]
            if len(set(uids)) != len(uids) or not all(u in self.exact.pos for u in uids):
                return f"search_ann: query {q} duplicate or unknown ids"
            scores = [h["score"] for h in hits]
            if any(s2 > s1 + 1e-9 for s1, s2 in zip(scores, scores[1:])):
                return f"search_ann: query {q} scores not ranked"
        return None

    def check_context(self, query: str, context: str) -> str | None:
        self.b.checked.add("context_for_rag.top_chunk")
        probe = self.embed(query, "query")
        if not context or not self.exact.top_texts_ok(probe, context, self.texts):
            return "context_for_rag: best exact chunk missing from context"
        return None

    def quality(self) -> float:
        """recall@5 of search_ann over the probe queries, tie-safe
        against the exact numpy top-5."""
        self.b.checked.add("search_ann.recall")
        hits = n = 0
        for queries, rows in zip(self.probe, self.probe_rows):
            got: dict[int, list[str]] = {}
            for r in rows:
                got.setdefault(r["query_id"], []).append(r["chunk_uid"])
            for i, q in enumerate(queries):
                hits += self.exact.hits(self.embed(q, "query"), got.get(i, []),
                                        N_RESULTS)
                n += 1
        return hits / (N_RESULTS * n)


# ------------------------------------------------------------ write path
class WritePath:
    """build_chunks -> append -> ann_absorb batches, then ann_maintain,
    on a built collection; checks every appended chunk once everywhere."""

    def __init__(self, b: Bench, coll, seed: int, batch: int):
        self.b, self.coll, self.seed, self.batch = b, coll, seed, batch
        self.appended: list[str] = []

    def _data_files(self, path: str, top_only: bool) -> list[str]:
        out = []
        for d, subdirs, names in os.walk(path):
            if top_only:
                subdirs[:] = []
            out += [os.path.join(d, n) for n in names if n.endswith(".parquet")]
        return out

    def kernel(self, docs) -> tuple[float, int]:
        """The fused extract -> chunk -> embed kernel's Python work on
        the driver, one thread: (seconds, chunks)."""
        from vector_db_ingestor_spark.embedding import HashingEmbedder
        from vector_db_ingestor_spark.operators.chunker import chunk_text
        from vector_db_ingestor_spark.sources.pdf import extract_pdf_text

        emb = HashingEmbedder()
        t0 = time.perf_counter()
        n = 0
        for _, _, text in docs:
            raw = f"stream\n({text}) Tj\nendstream".encode("utf-8")
            for piece in chunk_text(extract_pdf_text(raw), CHUNK_SIZE, OVERLAP):
                if piece.strip():
                    emb.embed_one(piece, "passage")
                    n += 1
        return time.perf_counter() - t0, n

    def step(self, k: int) -> str | None:
        import inputs
        from vector_db_ingestor_spark.pipeline import build_chunks

        b, coll = self.b, self.coll
        docs = inputs.corpus(self.seed, self.batch, first_id=10**6 * (k + 1))
        path = b.write_docs(f"batch{k}", docs)
        with b.tracer.span("build_chunks") as x:
            chunks = build_chunks(
                b.files(path), metadata={"category": "bench"},
                chunk_size=CHUNK_SIZE, overlap=OVERLAP,
            ).localCheckpoint(eager=True)
        kernel_s, n_kernel = self.kernel(docs)
        n = chunks.count()
        x["chunks"], x["kernel_s"] = n, kernel_s
        uids = [r[0] for r in chunks.select("chunk_uid").collect()]
        self.appended += uids
        before = set(self._data_files(coll.path, top_only=True))
        with b.tracer.span("append") as x:
            coll.append(chunks)
        new = set(self._data_files(coll.path, top_only=True)) - before
        x["files_written"] = len(new)
        x["bytes_per_chunk"] = sum(os.path.getsize(f) for f in new) / max(1, n)
        with b.tracer.span("ann_absorb"):
            coll.ann_absorb(chunks, kind="ivfpq")
        chunks.unpersist()
        self.note_index()
        b.checked.add("build_chunks.kernel_replay")
        if n != n_kernel:
            return f"build_chunks: {n} chunks, kernel replay {n_kernel}"
        return None

    def note_index(self) -> None:
        self.b.tracer.note(
            "ann_index",
            files=len(self._data_files(self.coll.path + "/_ann_ivfpq", False)),
        )

    def maintain(self) -> None:
        with self.b.tracer.span("ann_maintain") as x:
            actions = self.coll.ann_maintain(kind="ivfpq")["actions"]
        x.update(compact=actions.count("compact"),
                 rebuild=actions.count("rebuild"), none=int(not actions))
        self.note_index()

    def check(self) -> str | None:
        """Every appended chunk_uid exactly once in the collection, the
        IVF-PQ codes and the refine companion."""
        from pyspark.sql import functions as F

        self.b.checked.add("ingest.appended_once")
        idx = self.coll.path + "/_ann_ivfpq"
        for name, path in (("collection", self.coll.path), ("codes", idx),
                           ("_vectors", idx + "/_vectors")):
            counts = dict(
                self.b.spark.read.parquet(path)
                .filter(F.col("chunk_uid").isin(self.appended))
                .groupBy("chunk_uid").count().collect()
            )
            bad = [u for u in self.appended if counts.get(u) != 1]
            if bad:
                return f"ingest: {len(bad)} appended chunks not exactly once in {name}"
        return None

    def tour(self) -> list[str | None]:
        out = [self.step(k) for k in range(WRITE_STEPS)]
        self.maintain()
        return out + [self.check()]


# --------------------------------------------------------------- curate
class Curate:
    warmups = 1

    def __init__(self, b: Bench, size: dict):
        import inputs

        self.b = b
        seed = b.args.seed
        docs = inputs.corpus(seed, size["docs"])
        copies, self.planted = inputs.planted_text_dups(
            seed, docs, size["text_dups"], first_id=size["docs"])
        self.docs = docs + copies
        self.texts = {d[0]: d[2] for d in self.docs}
        self.mat, self.vplanted = inputs.vectors(seed, size["vecs"], size["vec_dups"])
        self.expected: dict | None = None
        self._fp: dict[int, int] = {}

    def setup(self):
        self.docs_path = self.b.write_docs("curate", self.docs)
        self.vec_path = self.b.write_vectors(self.mat)

    def items_per_op(self) -> int:
        return len(self.docs) + len(self.mat)

    def warmup_op(self, i: int) -> str | None:
        return self.run_op(i)

    def run_op(self, i: int) -> str | None:
        from vector_db_ingestor_spark.operators.dedup import (
            embedding_near_dups,
            minhash_verified_pairs,
            simhash_near_dups,
        )

        b = self.b
        docs = b.spark.read.parquet(self.docs_path)
        vecs = b.spark.read.parquet(self.vec_path)
        out = {}
        for name, make in (
            ("minhash_verified_pairs",
             lambda: minhash_verified_pairs(docs, threshold=MINHASH_T)),
            ("simhash_near_dups",
             lambda: simhash_near_dups(docs, max_hamming=SIMHASH_H)),
            ("embedding_near_dups",
             lambda: embedding_near_dups(vecs, threshold=EMBED_T, dim=64)),
        ):
            with b.tracer.span(name) as x:
                out[name] = [tuple(r) for r in make().collect()]
            x["pairs"] = len(out[name])
        return self.check(out)

    def _simhash(self, doc_id: int) -> int:
        from checks import simhash

        if doc_id not in self._fp:
            self._fp[doc_id] = simhash(self.texts[doc_id])
        return self._fp[doc_id]

    def check(self, out: dict) -> str | None:
        from checks import cosine, hamming, jaccard

        self.b.checked.update(("curate.repeat", "minhash.jaccard",
                               "simhash.hamming", "embedding.cosine"))
        pairs = {k: {(a, b) for a, b, *_ in v} for k, v in out.items()}
        if self.expected is None:
            self.expected = pairs
        elif pairs != self.expected:
            return "curate: pair sets differ between identical ops"
        for a, b_, j in out["minhash_verified_pairs"]:
            ref = jaccard(self.texts[a], self.texts[b_])
            if not a < b_ or ref < MINHASH_T - 1e-9 or abs(ref - j) > 1e-6:
                return f"minhash pair ({a},{b_}) jaccard {j} vs {ref:.6f}"
        for a, b_, h in out["simhash_near_dups"]:
            ref = hamming(self._simhash(a), self._simhash(b_))
            if not a < b_ or ref > SIMHASH_H or ref != h:
                return f"simhash pair ({a},{b_}) hamming {h} vs {ref}"
        for a, b_, c in out["embedding_near_dups"]:
            ref = cosine(self.mat[a].astype(float), self.mat[b_].astype(float))
            if not a < b_ or ref < EMBED_T - 1e-6 or abs(ref - c) > 1e-5:
                return f"embedding pair ({a},{b_}) cosine {c} vs {ref:.6f}"
        return None

    def quality(self) -> float:
        """Recall of the planted pairs, over the three detectors."""
        self.b.checked.add("curate.planted_recall")
        e = self.expected or {}
        found = sum(p in e.get("minhash_verified_pairs", ()) for p in self.planted)
        found += sum(p in e.get("simhash_near_dups", ()) for p in self.planted)
        found += sum(p in e.get("embedding_near_dups", ()) for p in self.vplanted)
        return found / (2 * len(self.planted) + len(self.vplanted))


# ----------------------------------------------------------------- main
def run(args, work: str) -> dict:
    b = Bench(args, work)
    try:
        return measure(b, args)
    finally:
        b.stop()


def measure(b: Bench, args) -> dict:
    size = SIZES["smoke" if args.smoke else "full"]
    wl = (Serve if args.workload == "serve" else Curate)(b, size)
    wl.setup()
    warm = [b.op(wl.warmup_op) for _ in range(wl.warmups)]
    setup_s = time.perf_counter() - T_START

    # read after the same history in every run (set-up + warm-ups); the
    # full GC also keeps earlier garbage out of the window
    heap_mb = b.live_heap_mb()
    noise = HostNoise()
    times = b.loop(wl.run_op, args.seconds)
    host = noise.read()

    quality = wl.quality()

    p50 = statistics.median(times)
    if b.tracer.enabled:
        tour(b, wl, args)
        metrics = layer_metrics(b, p50)
    else:
        rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_s_p50": (p50, "s"),
            "items_per_s": (wl.items_per_op() * len(times) / sum(times), "1/s"),
            "quality": (quality, "ratio"),
            "driver_rss_mb": (rss_mb, "MB"),
            "jvm_heap_mb": (heap_mb, "MB"),
        }
    print(json.dumps({"noise": {
        **host, "workload": args.workload, "seed": args.seed,
        "warmup_op_s": [round(t, 3) for t in warm],
        "op_s": [round(t, 3) for t in times],
        "checks": sorted(b.checked),
        "problems": b.problems[:5],
    }}), flush=True)
    return {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def tour(b: Bench, wl, args) -> None:
    """Run once, traced, every call the workload does not make, so the
    traced run reports every layer.  The other workload's calls run at
    smoke size: their numbers are read on the workload that owns them."""
    smoke = SIZES["smoke"]
    if isinstance(wl, Serve):
        coll, batch = wl.coll, wl.size["batch"]
    else:
        serve = Serve(b, smoke)
        serve.setup()
        for _ in range(serve.warmups):
            b.op(serve.warmup_op)
        serve.quality()
        coll, batch = serve.coll, smoke["batch"]
    for problem in WritePath(b, coll, args.seed, batch).tour():
        b.attempted += 1
        b.count(problem)
    if isinstance(wl, Serve):
        cur = Curate(b, smoke)
        cur.setup()
        b.op(cur.warmup_op)
        cur.quality()


LAYER_UNITS = {
    "wall_s": "s", "driver_s": "s", "jobs": "count", "tasks": "count",
    "executor_run_s": "s", "shuffle_write_mb": "MB", "spill_mb": "MB",
    "jvm_gc_s": "s", "build_s": "s", "kernel_s": "s", "chunks": "count",
    "files_written": "count", "bytes_per_chunk": "B", "files": "count",
    "pairs": "count", "compact": "count", "rebuild": "count", "none": "count",
}


def layer_metrics(b: Bench, traced_p50: float) -> dict:
    medians = b.tracer.medians()
    if b.tracer.missing:
        b.count(f"tracer: {b.tracer.missing} jobs or stages left the status store")
    out = {k: (v, LAYER_UNITS[k.split(".", 1)[1]])
           for k, v in sorted(medians.items())}
    out["trace.op_s_p50"] = (traced_p50, "s")
    out["run.failed_ratio"] = (b.failed / max(1, b.attempted), "ratio")
    return out


class Deadline(BaseException):
    """Raised by SIGALRM; a BaseException so no op handler swallows it."""


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "vector_db_ingestor_spark")):
        print(f"perfbench: no vector_db_ingestor_spark package in {ROOT}",
              file=sys.stderr)
        return 2
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, str(os.getpid()))
    pin_env(work)

    def _deadline(*_):
        raise Deadline(f"perfbench: over {DEADLINE_S}s")

    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    try:
        result = run(args, work)
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work_root)
        except OSError:  # another run's directory is still there
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
