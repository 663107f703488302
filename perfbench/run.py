"""Benchmark of the luceneindexer_spark engine on local[nproc].

    python3 perfbench/run.py --workload {serve,update} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. Each run starts one Spark session, makes
its inputs from the seed (perfbench/gen.py), times the workload's calls for
S seconds of measured time, checks every answer against the DuckDB oracle
(perfbench/oracle.py) and prints, as its last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the same calls run inside
per-call Spark job groups and the metrics are the per-layer ones.
perfbench/README.md defines every metric and says why each workload exists.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import sys
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import measure as tr  # noqa: E402
from oracle import Oracle, same_topk  # noqa: E402
from gen import SHAPES  # noqa: E402

BASE_DOCS = 3000            # keys in the base index
K = 10
DRIVER_MEMORY = "1g"
UPDATE_NEW, UPDATE_REVISED, UPDATE_DELETES = 120, 30, 20
MIN_KERNEL_POSTINGS = 128
SERVE_CYCLE = SHAPES[:3] + ("batch",) + SHAPES[3:] + ("batch",)
MODE = {"and_rare": "and", "and_hot": "and", "or_hot": "or",
        "phrase": "phrase"}


class Run:
    """State of one benchmark run: session, tracer, oracle, counters."""

    def __init__(self, args, tmp: str):
        self.args = args
        self.seed = args.seed
        self.tmp = tmp
        self.nproc = len(os.sched_getaffinity(0))
        self.attempted = 0
        self.failed = 0
        self.measured = 0.0         # timed seconds spent in the window
        self.reports: list[dict] = []
        self.info: dict[str, str] = {}
        self.bytes_before_compact: list[float] = []
        self.setup_s = 0.0
        self._n = 0

    # -- plumbing -----------------------------------------------------------

    def start_spark(self):
        from pyspark.sql import SparkSession
        local = os.path.join(self.tmp, "spark")
        self.spark = (
            SparkSession.builder.master(f"local[{self.nproc}]")
            .appName(f"perfbench-{self.args.workload}")
            .config("spark.sql.shuffle.partitions", str(self.nproc))
            .config("spark.driver.memory", DRIVER_MEMORY)
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.local.dir", local)
            .config("spark.sql.warehouse.dir", os.path.join(local, "wh"))
            .config("spark.driver.extraJavaOptions",
                    f"-Djava.io.tmpdir={self.tmp}/jtmp -XX:-UsePerfData")
            .getOrCreate())
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer = tr.Tracer(self.spark, bool(self.args.trace))
        self.mark("spark started")

    def warm_workers(self) -> None:
        """Untimed by any call metric: start one Python worker per core and
        import the package's UDF modules in each."""
        def imp(batches):
            import luceneindexer_spark.index.build  # noqa: F401
            import luceneindexer_spark.query.engine  # noqa: F401
            yield from batches
        self.spark.range(self.nproc, numPartitions=self.nproc).mapInArrow(
            imp, "id long").collect()
        self.mark("workers warm")

    def path(self, name: str) -> str:
        self._n += 1
        return os.path.join(self.tmp, f"{name}-{self._n}")

    def write_rows(self, docs) -> str:
        import pyarrow as pa
        import pyarrow.parquet as pq
        d = self.path("input")
        os.makedirs(d)
        pq.write_table(pa.table({
            "repo": [x.repo for x in docs], "path": [x.path for x in docs],
            "commit": [x.commit for x in docs],
            "lang": [x.lang for x in docs],
            "content": [x.content for x in docs]}),
            os.path.join(d, "part-0.parquet"))
        return d

    def mark(self, what: str) -> None:
        print(f"[{time.perf_counter() - T0:7.2f}] {what}", file=sys.stderr,
              flush=True)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"WRONG ANSWER: {what}", flush=True)

    def attempt(self, what: str, fn, *a):
        """Run one operation; an exception counts as a failed operation."""
        try:
            out = fn(*a)
            self.mark(f"{what} {out}")
            return out
        except Exception:
            self.attempted += 1
            self.failed += 1
            print(f"FAILED: {what}", flush=True)
            traceback.print_exc()
            return None

    # -- calls into the package, one traced span each -----------------------

    def build(self, docs_dir: str, out: str) -> float:
        """Fresh build_index(positions=True); returns its wall time. Traced,
        the docmap layer is built by its own call first, and build_index
        resumes from it, so the two layers get separate job groups."""
        from luceneindexer_spark.corpus import build_docmap
        from luceneindexer_spark.index.build import IndexPaths, build_index
        corpus = self.spark.read.parquet(docs_dir)
        t0 = time.perf_counter()
        if self.tracer.traced:
            with self.tracer.call("corpus.build_docmap"):
                build_docmap(corpus, write_path=IndexPaths(out).docmap)
            corpus = None
        with self.tracer.call("index.build_index"):
            rep = build_index(self.spark, corpus, out, positions=True)
        self.reports.append(rep)
        self.mark("built")
        return time.perf_counter() - t0

    def open_cached(self, root: str):
        from luceneindexer_spark.query.engine import QuerySession
        with self.tracer.call("engine.open"):
            return QuerySession(self.spark, root, cache=True)

    def query(self, qs, shape: str, q: str, span: str):
        with self.tracer.call(span) as s:
            if shape.startswith("qs_"):
                rows = qs.query_string(q, K).collect()
            else:
                rows = qs.topk(q, K, mode=MODE[shape]).collect()
        self.check(same_topk([(r.doc_id, r.score) for r in rows],
                             self.oracle.scores(shape, q), K),
                   f"{shape} {q!r}")
        return s.wall

    def open_uncached(self, root: str):
        """Returns (session, seconds to open it)."""
        from luceneindexer_spark.query.engine import QuerySession
        with self.tracer.call("engine.uncached_open") as s:
            qs = QuerySession(self.spark, root)
        return qs, s.wall

    def fresh_query(self, root: str, shape: str, q: str) -> float:
        """The CLI / bm25_topk path: open an uncached session, one query."""
        qs, t_open = self.open_uncached(root)
        return t_open + self.query(qs, shape, q, "engine.fresh_query")

    def batch(self, qs, queries: dict[str, str]) -> float:
        with self.tracer.call("engine.topk_batch") as s:
            rows = qs.topk_batch(queries, K).collect()
        got: dict[str, list] = {q: [] for q in queries}
        for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
            got[r.query_id].append((r.doc_id, r.score))
        for qid, q in queries.items():
            self.check(same_topk(got[qid], self.oracle.scores("and", q), K),
                       f"batch {qid} {q!r}")
        return s.wall

    def append(self, root: str, docs) -> float:
        from luceneindexer_spark.streaming.incremental import append_documents
        src = self.write_rows(docs)
        with self.tracer.call("incremental.append_documents") as s:
            append_documents(self.spark, root, self.spark.read.parquet(src))
        return s.wall

    def delete(self, root: str, ids: list[int]) -> float:
        from luceneindexer_spark.ops.maintenance import append_deletes
        with self.tracer.call("maintenance.append_deletes") as s:
            append_deletes(self.spark, root, ids)
        self.oracle.delete(ids)
        return s.wall

    def compact(self, root: str) -> float:
        from luceneindexer_spark.ops.maintenance import compact_index
        self.bytes_before_compact.append(self.index_ratio(root))
        with self.tracer.call("maintenance.compact_index") as s:
            compact_index(self.spark, root)
        self.oracle.compact()
        self.check_index(root)
        return s.wall

    # -- checks and sizes ---------------------------------------------------

    def check_index(self, root: str) -> None:
        """Docmap rows, term statistics and corpus statistics on disk equal
        the oracle's model of the index."""
        import pyarrow.dataset as ds
        import pyarrow.parquet as pq
        from luceneindexer_spark.index.build import IndexPaths
        p = IndexPaths(root)
        dm = ds.dataset(p.docmap).to_table(
            columns=["doc_id", "repo", "path", "commit", "content_sha256"])
        got = sorted(zip(*(dm.column(c).to_pylist() for c in dm.column_names)))
        self.check(got == self.oracle.docmap(), f"docmap of {root}")
        ts = ds.dataset(p.term_stats).to_table(columns=["term", "df", "cf"])
        got_ts = {t: (d, c) for t, d, c in zip(*(
            ts.column(c).to_pylist() for c in ts.column_names))}
        self.check(got_ts == self.oracle.term_stats(),
                   f"term_stats of {root}")
        cs = pq.read_table(p.corpus_stats).to_pylist()[0]
        n, avgdl = self.oracle.corpus_stats()
        self.check(cs["n_docs"] == n and abs(cs["avgdl"] - avgdl) < 1e-9,
                   f"corpus_stats of {root}")

    def index_ratio(self, root: str) -> float:
        """On-disk bytes of docmap + postings + stats per content byte of
        the live documents."""
        from luceneindexer_spark.index.build import IndexPaths
        p = IndexPaths(root)
        size = 0
        for d in (p.docmap, p.postings, p.term_stats, p.corpus_stats):
            for base, _, files in os.walk(d):
                size += sum(os.path.getsize(os.path.join(base, f))
                            for f in files)
        (live,) = self.oracle.con.execute(
            "SELECT sum(strlen(content)) FROM dm WHERE NOT dead").fetchone()
        return size / live

    def range_size(self, root: str) -> int:
        from luceneindexer_spark.query.engine import load_meta
        return load_meta(self.spark, root).range_size

    # -- shared set-up ------------------------------------------------------

    def inputs(self, n_docs: int):
        """Generate the corpus and write it as the engine's input files."""
        self.inp = gen.corpus(self.seed, n_docs)
        self.live = gen.latest(self.inp.docs)
        out = self.write_rows(self.inp.docs)
        self.mark("inputs written")
        return out

    def prepare_oracle(self) -> None:
        self.oracle = Oracle(self.nproc)
        self.oracle.load_corpus(self.live)
        self.mix = gen.QueryMix(self.seed, self.inp.words, self.live)
        self.mark("oracle ready")

    def window_open(self) -> bool:
        return self.measured < self.args.seconds

    # -- traced run: reach every layer --------------------------------------

    def sweep(self, root: str, qs=None) -> None:
        """Traced runs only: call each layer the workload did not reach,
        once, so every per-layer metric is measured in every traced run.
        Answers are checked like any other."""
        with self.tracer.op("sweep"):
            self._sweep(root, qs)
        self.mark("sweep done")

    def _sweep(self, root: str, qs) -> None:
        t = self.tracer
        if not t.of("engine.open"):
            qs = self.open_cached(root)
        for shape in SHAPES:
            if not t.of(f"engine.query.{shape}"):
                self.query(qs, shape, self.mix.pools[shape][0],
                           f"engine.query.{shape}")
        if not t.of("engine.topk_batch"):
            self.batch(qs, self.mix.batches[0])
        if not t.of("engine.uncached_open"):
            self.fresh_query(root, "and_hot", self.mix.pools["and_hot"][0])
        if not t.of("incremental.append_documents"):
            self.write_round(root, 99)
        if not t.of("maintenance.compact_index"):
            self.compact(root)

    def write_round(self, root: str, round_no: int):
        """One update round: append a seeded batch, tombstone a seeded id
        set, then one fresh query on a term of a new doc and a term of a
        tombstoned one. Returns (append, fresh query, delete) seconds."""
        import numpy as np
        docs = gen.update_batch(self.seed, self.inp.words, round_no,
                                self.oracle.live_keys(), UPDATE_NEW,
                                UPDATE_REVISED)
        t_append = self.append(root, docs)
        new_ids = self.oracle.upsert(docs)
        rng = np.random.default_rng([self.seed, 4, round_no])
        dead = sorted(rng.choice(self.oracle.live_ids(), UPDATE_DELETES,
                                 replace=False).tolist())
        t_delete = self.delete(root, dead)
        new = next(i for i in new_ids if i not in set(dead))
        q = f"{self.oracle.rare_term(new)} {self.oracle.rare_term(dead[0])}"
        return t_append, self.fresh_query(root, "or_hot", q), t_delete


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

def base_index(r: Run) -> tuple[str, float]:
    """Set-up shared by both workloads. The Spark session starts and warms
    its Python workers while the seeded corpus is generated; then the base
    build. Returns (index root, build seconds)."""
    with ThreadPoolExecutor(1) as pool:
        started = pool.submit(lambda: (r.start_spark(), r.warm_workers()))
        src = r.inputs(BASE_DOCS)
        started.result()
    r.setup_s = time.perf_counter() - T0
    root = r.path("index")
    t_build = r.build(src, root)
    r.setup_s += t_build
    r.prepare_oracle()
    r.check_index(root)
    r.oracle.range_size = r.range_size(root)
    r.mark("base index checked")
    return root, t_build


def workload_serve(r: Run) -> dict:
    """Interactive and batch search on a cached QuerySession. After one
    untimed query of each shape and one batch, single queries run the shapes
    in SERVE_CYCLE order, with a 64-query batch after every three; the
    window holds at least two batches."""
    root, t_build = base_index(r)
    t0 = time.perf_counter()
    qs = r.open_cached(root)
    r.setup_s += time.perf_counter() - t0
    with r.tracer.op("warm-up"):        # untimed; answers still checked
        for shape in SHAPES:
            r.query(qs, shape, r.mix.pools[shape][-1], "engine.warm_up")
        r.batch(qs, r.mix.batches[-1])
    singles, batches = [], []
    for n in itertools.count():
        if len(batches) >= 2 and not r.window_open():
            break
        cycle, slot = divmod(n, len(SERVE_CYCLE))
        shape = SERVE_CYCLE[slot]
        if shape == "batch":
            w = r.attempt("topk_batch", r.batch, qs,
                          r.mix.batches[n // 4 % len(r.mix.batches)])
            out = batches
        else:
            pool = r.mix.pools[shape]
            w = r.attempt(shape, r.query, qs, shape, pool[cycle % len(pool)],
                          f"engine.query.{shape}")
            out = singles
        if w is not None:
            out.append(w)
            r.measured += w
    r.info["query_p50_s"] = _count(tr.median(singles), singles)
    r.info["query_p90_s"] = _count(tr.p90(singles), singles)
    r.info["batch_qps"] = (f"{64 / tr.median(batches):.4g} queries/s over "
                           f"{len(batches)} batches")
    r.info["wand_share"] = r.mix.wand_share(
        sum(SERVE_CYCLE[i % len(SERVE_CYCLE)] == "and_hot"
            for i in range(len(singles) + len(batches))),
        len(singles), len(batches))
    ratio = r.index_ratio(root)
    if r.tracer.traced:
        r.sweep(root, qs)
        _pinned_oracle(r, root)
    return {"setup_s": r.setup_s,
            "build_docs_per_s": len(r.inp.docs) / t_build,
            "op_p50_s": tr.median(singles),
            "index_bytes_per_input_byte": ratio}


def workload_update(r: Run) -> dict:
    """Writes beside reads, in cycles: append a batch, tombstone an id set,
    run a fresh uncached query, then compact_index."""
    root, t_build = base_index(r)
    cycles, appends, fresh, compacts = [], [], [], []
    for n in itertools.count():
        if cycles and not r.window_open():
            break
        with r.tracer.op(f"update.cycle{n}"):
            res = r.attempt("write round", r.write_round, root, n)
            c = None if res is None else r.attempt("compact_index",
                                                   r.compact, root)
        if c is None:
            break
        appends.append(res[0])
        fresh.append(res[1])
        compacts.append(c)
        cycles.append(sum(res) + c)
        r.measured += cycles[-1]
    qs, _ = r.open_uncached(root)
    r.batch(qs, r.mix.batches[1])       # compiles the batch plan; untimed
    b_wall = r.batch(qs, r.mix.batches[0])
    r.info["append_p50_s"] = _count(tr.median(appends), appends)
    r.info["fresh_query_p50_s"] = _count(tr.median(fresh), fresh)
    r.info["compact_s"] = _count(tr.median(compacts), compacts)
    r.info["batch_qps"] = f"{64 / b_wall:.4g} queries/s over 1 batch"
    ratio = r.index_ratio(root)
    if r.tracer.traced:
        r.sweep(root)
        _pinned_oracle(r, root)
    return {"setup_s": r.setup_s,
            "build_docs_per_s": len(r.inp.docs) / t_build,
            "op_p50_s": tr.median(cycles),
            "index_bytes_per_input_byte": ratio}


def _count(v: float, samples: list) -> str:
    return f"{v:.4f} s over {len(samples)} samples"


def _pinned_oracle(r: Run, root: str) -> None:
    """Cross-check the DuckDB oracle against the package's pinned Spark
    oracle (query.oracle.bm25_topk_oracle) on one and + one phrase query."""
    from luceneindexer_spark.index.build import IndexPaths
    from luceneindexer_spark.query.oracle import bm25_topk_oracle
    docmap = r.spark.read.parquet(IndexPaths(root).docmap)
    for shape, mode in (("and_hot", "and"), ("phrase", "phrase")):
        q = r.mix.pools[shape][0]
        rows = bm25_topk_oracle(docmap, q, K, mode=mode).collect()
        r.check(same_topk([(x.doc_id, x.score) for x in rows],
                          r.oracle.scores(shape, q), K),
                f"pinned oracle {shape} {q!r}")


WORKLOADS = {"serve": workload_serve, "update": workload_update}

E2E_UNITS = {"setup_s": "s", "build_docs_per_s": "docs/s", "op_p50_s": "s",
             "index_bytes_per_input_byte": "ratio", "peak_rss_mb": "MB"}


# ---------------------------------------------------------------------------
# per-layer metrics (traced run)
# ---------------------------------------------------------------------------

def per_layer(r: Run) -> dict[str, tuple[float, str]]:
    t = r.tracer
    med = tr.median

    def of(name, attr="wall"):
        return med([getattr(s, attr) for s in t.of(name)])

    queries = [s for s in t.spans if s.name.startswith("engine.query.")]
    m = {
        "corpus.docmap_s": (of("corpus.build_docmap"), "s"),
        "corpus.jobs": (of("corpus.build_docmap", "jobs"), "count"),
        "corpus.shuffle_bytes": (of("corpus.build_docmap", "shuffle_bytes"),
                                 "B"),
        "build.postings_s": (med([x["timings"]["postings_write"]
                                  for x in r.reports]), "s"),
        "build.manifest_s": (med([x["timings"]["manifest"]
                                  for x in r.reports]), "s"),
        "build.stats_s": (med([x["stats_s"] for x in r.reports]), "s"),
        "build.jobs": (of("index.build_index", "jobs"), "count"),
        "build.stages": (of("index.build_index", "stages"), "count"),
        "build.shuffle_bytes": (of("index.build_index", "shuffle_bytes"),
                                "B"),
        "build.task_cpu_s": (of("index.build_index", "cpu_s"), "s"),
        "engine.open_s": (of("engine.open"), "s"),
        "engine.uncached_open_s": (of("engine.uncached_open"), "s"),
        "engine.batch64_s": (of("engine.topk_batch"), "s"),
        "engine.driver_self_s": (med([s.wall - s.covered_s
                                      for s in queries]), "s"),
        "engine.task_cpu_s_per_query": (med([s.cpu_s for s in queries]),
                                        "s"),
    }
    for shape in SHAPES:
        name = f"engine.query.{shape}"
        m[f"engine.topk_s.{shape}"] = (of(name), "s")
        m[f"engine.jobs_per_query.{shape}"] = (of(name, "jobs"), "count")
        m[f"engine.stages_per_query.{shape}"] = (of(name, "stages"), "count")
    m["incremental.append_s"] = (of("incremental.append_documents"), "s")
    m["incremental.append_jobs"] = (
        of("incremental.append_documents", "jobs"), "count")
    m["incremental.append_shuffle_bytes"] = (
        of("incremental.append_documents", "shuffle_bytes"), "B")
    m["maintenance.delete_s"] = (of("maintenance.append_deletes"), "s")
    m["maintenance.compact_s"] = (of("maintenance.compact_index"), "s")
    m["maintenance.compact_bytes_rewritten"] = (
        of("maintenance.compact_index", "output_bytes"), "B")
    m["maintenance.bytes_per_live_byte"] = (med(r.bytes_before_compact),
                                            "ratio")
    m["trace.accounting_s"] = (med([s.accounting_s for s in t.spans]), "s")
    qs_queries = r.mix.pools["qs_must"] + r.mix.pools["qs_group"]
    m.update(tr.kernels([d.content for d in r.inp.docs],
                        _seeded_postings(r), qs_queries))
    return m


def _seeded_postings(r: Run):
    """Posting lists (doc ordinals) of the seeded corpus's words that fill
    at least one codec block."""
    import numpy as np
    docs = np.concatenate([np.full(len(np.unique(d.tokens)), i)
                           for i, d in enumerate(r.live)])
    words = np.concatenate([np.unique(d.tokens) for d in r.live])
    order = np.lexsort((docs, words))
    words, docs = words[order], docs[order]
    cuts = np.flatnonzero(np.diff(words)) + 1
    return [p for p in np.split(docs, cuts) if len(p) >= MIN_KERNEL_POSTINGS]


# ---------------------------------------------------------------------------
# entry point
# ---------------------------------------------------------------------------

def _settings(r: Run) -> str:
    mount, fstype = "/", "?"
    with open("/proc/mounts") as f:
        for line in f:
            _, mp, fs = line.split()[:3]
            if r.tmp.startswith(mp.rstrip("/") + "/") and len(mp) >= len(
                    mount):
                mount, fstype = mp, fs
    return (f"master=local[{r.nproc}] shuffle.partitions={r.nproc} "
            f"driver.memory={DRIVER_MEMORY} index+shuffle dir={r.tmp} "
            f"on {fstype} "
            f"({'tmpfs: RAM' if fstype == 'tmpfs' else 'disk'}; no fsync)")


def _stop(spark) -> None:
    """Stop Spark, then the gateway JVM it runs in, and wait for both."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    _wait_children()


def _wait_children(timeout: float = 30.0) -> None:
    """Wait until no process started by this one is left."""
    deadline = time.time() + timeout
    me = str(os.getpid())
    while time.time() < deadline:
        alive = False
        for p in os.listdir("/proc"):
            try:
                with open(f"/proc/{p}/stat") as f:
                    st = f.read()
            except OSError:
                continue
            if st[st.rindex(")") + 2:].split()[1] == me:
                alive = True
                break
        if not alive:
            return
        time.sleep(0.2)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    import luceneindexer_spark  # noqa: F401  (fails outside a checkout)

    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=base)
    os.makedirs(os.path.join(tmp, "jtmp"))
    os.environ["TMPDIR"] = os.path.join(tmp, "jtmp")
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    r = Run(args, tmp)
    try:
        with tr.PeakRss() as rss:
            e2e = WORKLOADS[args.workload](r)
            layers = per_layer(r) if args.trace else None
            r.mark("metrics done")
        e2e["peak_rss_mb"] = rss.peak / 1e6
        print(f"settings: {_settings(r)}")
        print(f"inputs: {len(r.inp.docs)} corpus rows, measured "
              f"{r.measured:.1f} s of calls")
        for name, v in e2e.items():
            print(f"  {name} = {v:.6g} {E2E_UNITS[name]}")
        for name, v in r.info.items():
            print(f"  {name} = {v}")
        print(f"  failed_frac = {r.failed}/{r.attempted} operations")
        if args.trace:
            metrics = {k: {"value": float(v), "unit": u}
                       for k, (v, u) in layers.items()}
            spans = [s.__dict__ for s in r.tracer.spans]
            with open(os.path.join(base, f"spans-{args.workload}-"
                                         f"{args.seed}.json"), "w") as f:
                json.dump(spans, f)
        else:
            metrics = {k: {"value": float(v), "unit": E2E_UNITS[k]}
                       for k, v in e2e.items()}
    finally:
        if hasattr(r, "spark"):
            _stop(r.spark)
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({"correct": r.failed == 0, "attempted": r.attempted,
                      "failed": r.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
