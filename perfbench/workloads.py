"""One benchmark run: set-up, the closed-loop client and the result
checks.

Both workloads share one set-up: session start, a bulk `put_batch`, a
trickle of single writes (serve_read only), `compact`, and the IVF and
HNSW index builds.
The timed loop is then one client issuing the workload's op blocks back
to back. A traced serve_read run adds the offline batch path after the
loop (see `Run.batch_phase`).
"""

from __future__ import annotations

import os
import sys
import threading
import time
from collections import defaultdict

import numpy as np

from perfbench import gen, oracle
from perfbench.trace import NullTracer, Tracer

TOP_K = gen.TOP_K
VEC_SCHEMA = "key string, vector array<double>, metadata map<string,string>"
QUERY_SCHEMA = "query_id long, query_vec array<double>"
DOC_SCHEMA = "doc_id long, text string"

# op kind -> the latency/metric kind it reports under
KIND = {
    "exact": "exact", "exact_f": "exact", "ivf": "ivf", "hnsw": "hnsw",
    "get": "get", "serve": "serve", "put_ow": "put", "put_new": "put",
    "delete": "delete", "put_batch": "put_batch",
}
READS = ("exact", "ivf", "hnsw", "get", "serve")
SINGLE_WRITES = ("put_ow", "put_new", "delete")
OP_KINDS = ("exact", "ivf", "hnsw", "get", "serve", "put", "delete", "put_batch")


# -- input files ---------------------------------------------------------------


def _list_array(mat: np.ndarray):
    import pyarrow as pa

    n, d = mat.shape
    offsets = pa.array(np.arange(0, n * d + 1, d, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(mat.ravel(), pa.float64()))


def write_vectors(path: str, keys, mat: np.ndarray, types) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = len(keys)
    meta = pa.MapArray.from_arrays(
        pa.array(np.arange(n + 1, dtype=np.int32)),
        pa.array(["type"] * n),
        pa.array(list(types)),
    )
    pq.write_table(pa.table({"key": list(keys), "vector": _list_array(mat), "metadata": meta}), path)


def write_queries(path: str, mat: np.ndarray) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids = pa.array(np.arange(len(mat), dtype=np.int64))
    pq.write_table(pa.table({"query_id": ids, "query_vec": _list_array(mat)}), path)


def write_docs(path: str, docs: gen.Documents) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"doc_id": pa.array(docs.ids, pa.int64()), "text": docs.texts}), path
    )


# -- process memory ------------------------------------------------------------


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak of driver-Python RSS plus JVM RSS, sampled from /proc."""

    def __init__(self, jvm_pid: int, period_s: float = 0.2) -> None:
        self.pids = (os.getpid(), jvm_pid)
        self.peak_kb = 0
        self._stop = threading.Event()
        self._period = period_s
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in self.pids))

    def _loop(self) -> None:
        while not self._stop.wait(self._period):
            self.sample()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return self.peak_kb / 1024.0


# -- the run -------------------------------------------------------------------


class Run:
    def __init__(self, workload: str, seed: int, sizes: gen.Sizes, tmp: str, trace: bool):
        if workload not in gen.ROUNDS:
            raise ValueError(f"unknown workload {workload!r}; choose from {sorted(gen.ROUNDS)}")
        self.workload = workload
        self.sizes = sizes
        self.tmp = tmp
        self.trace = trace
        streams = np.random.SeedSequence(seed).spawn(3)
        self.rng_data, self.rng_docs, self.rng_ops = (
            np.random.default_rng(s) for s in streams
        )
        self.model = oracle.StoreModel()
        self.tracer = NullTracer()
        self.samples: dict[str, list[float]] = defaultdict(list)  # loop+trickle latencies
        self.recalls: dict[str, list[float]] = defaultdict(list)
        self.timings: dict[str, float] = {}
        self.counts: dict[str, float] = defaultdict(float)
        self.log_files: list[int] = []
        self.attempted = 0
        self.failed = 0
        self.written: list[str] = []
        self.prev_kind: str | None = None
        self.n_new = 0
        self.n_batches = 0

    # -- bookkeeping --

    def check(self, what: str, reason: str | None) -> None:
        self.attempted += 1
        if reason is not None:
            self.failed += 1
            if self.failed <= 5:
                print(f"perfbench: wrong result in {what}: {reason}", file=sys.stderr)

    def timed(self, phase: str, kind: str, call):
        """Run one engine call as an op; returns (result, span record).
        Warm-up ops are not sampled."""
        with self.tracer.op(phase, KIND[kind]) as rec:
            t0 = time.perf_counter()
            out = call()
            ms = (time.perf_counter() - t0) * 1e3
        if phase != "warmup":
            self.samples[KIND[kind]].append(ms)
        return out, rec

    def _step(self, name: str, call):
        t0 = time.perf_counter()
        out = call()
        self.timings[name] = time.perf_counter() - t0
        return out

    # -- set-up --

    def setup(self) -> None:
        t0 = time.perf_counter()
        self._start_session()
        self._load()
        self._build_indexes()
        if "serve" in gen.ROUNDS[self.workload]:
            self._bind_serve()
        # untimed first calls of the shared read path: the first exact
        # search and get in a session pay for code generation
        self.do("exact", "warmup")
        self.do("get", "warmup")
        self.timings["setup"] = time.perf_counter() - t0

    def batch_phase(self) -> None:
        """The offline batch path: `ivf_batch_search` and `knn_join`
        queries over the store, then MinHash near-dup detection and
        `dedup_clusters` over generated documents. It runs after the loop
        of a traced serve_read run only, so it adds no time to untraced
        runs or to set-up; serve_read because its store is static, so the
        IVF layout, which `ivf_batch_search` reads without the store's
        live-state filter, still equals the live state."""
        if self.workload != "serve_read":
            return
        self._batch_queries()
        self._dedup()

    def _start_session(self) -> None:
        from distributed_vector_database_spark.session import get_spark

        for d in ("spark-local", "java-tmp", "events", "input"):
            os.makedirs(os.path.join(self.tmp, d), exist_ok=True)
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.tmp, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp}/java-tmp",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                # one plain file: Spark 4 otherwise writes a rolling log directory
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file://" + os.path.join(self.tmp, "events"),
                **Tracer.CONF,
            })
        self.spark = self._step("session", lambda: get_spark(app_name="perfbench", extra_conf=conf))
        self.spark.sparkContext.setLogLevel("ERROR")
        from pyspark import SparkContext

        self.rss = RssSampler(SparkContext._gateway.proc.pid)
        if self.trace:
            self.tracer = Tracer(self.spark.sparkContext)
            self.tracer.install()

    def _read(self, schema: str, path: str):
        return self.spark.read.schema(schema).parquet(path)

    def _load(self) -> None:
        from distributed_vector_database_spark.store import VectorStore

        n = self.sizes.n_vectors
        self.corpus = gen.make_corpus(self.rng_data, n)
        path = os.path.join(self.tmp, "input", "vectors.parquet")
        write_vectors(path, self.corpus.keys, self.corpus.vectors, self.corpus.types)
        for k, v, t in zip(self.corpus.keys, self.corpus.vectors, self.corpus.types):
            self.model.put(k, v, t)
        self.store = VectorStore(self.spark, os.path.join(self.tmp, "store"), dim=gen.DIM)
        self._step("put_batch", lambda: self.store.put_batch(self._read(VEC_SCHEMA, path), auto_index=False))
        self.do("put_new", "warmup")
        # serve_read's loop has no writes, so its write samples come from
        # this trickle; ingest_churn's come from its loop
        if self.workload == "serve_read":
            for kind in gen.trickle_kinds(self.rng_ops, self.sizes.trickle_writes):
                self.do(kind, "trickle")
        self._step("compact", self.store.compact)

    def _build_indexes(self) -> None:
        from distributed_vector_database_spark.operators import ann

        self.ivf_version = self._step("ivf_build", lambda: self.store.rebuild_index("auto"))
        self._step("hnsw_build", lambda: self.store.rebuild_hnsw_index(num_shards=self.sizes.hnsw_shards))
        self.nprobe = ann.ivf_auto_params(self.sizes.n_vectors)[1]

    def _batch_queries(self) -> None:
        from distributed_vector_database_spark.operators import ann, knn

        qmat = np.stack([gen.near_vector(self.rng_data, self.corpus) for _ in range(self.sizes.n_batch_queries)])
        path = os.path.join(self.tmp, "input", "queries.parquet")
        write_queries(path, qmat)
        queries = self._read(QUERY_SCHEMA, path)
        index_root = os.path.join(self.store.root, "index")
        centroids = [
            (int(r["centroid_id"]), list(r["centroid"]))
            for r in self.spark.read.parquet(f"{index_root}/centroids/v={self.ivf_version}").collect()
        ]
        assigned = self.spark.read.parquet(f"{index_root}/data/v={self.ivf_version}")

        def ivf_batch():
            df = ann.ivf_batch_search(
                self.spark, centroids, assigned, queries, k=TOP_K, nprobe=self.nprobe,
                key_col="key", vec_col="embedding",
            )
            with self.tracer.span("ann.ivf_batch_search.action"):
                return df.collect()

        def join():
            df = knn.knn_join(queries, self.store.state(), k=TOP_K, corpus_key="key", corpus_vec="vector")
            with self.tracer.span("knn.knn_join.action"):
                return df.collect()

        ivf_rows = self._step("ivf_batch_search", ivf_batch)
        join_rows = self._step("knn_join", join)
        keys, mat, _ = self.model.matrix()
        ivf_got, join_got = defaultdict(list), defaultdict(list)
        for r in ivf_rows:
            ivf_got[r["query_id"]].append((r["rank"], r["key"], r["score"]))
        for r in join_rows:
            join_got[r["query_id"]].append((r["rank"], r["key"], r["score"]))
        for qid, q in enumerate(qmat):
            truth = oracle.brute_topk(keys, mat, q, TOP_K)
            got = [(k, s) for _, k, s in sorted(join_got[qid])]
            self.check("knn_join", oracle.check_exact(got, truth))
            approx = [(k, s) for _, k, s in sorted(ivf_got[qid])]
            self.check("ivf_batch_search", oracle.check_approx(approx, self.model, q, TOP_K, allow_stale=False))
            self.recalls["ivf_batch"].append(oracle.recall([k for k, _ in approx], truth))

    def _dedup(self) -> None:
        from distributed_vector_database_spark.operators import dedup

        docs_data = gen.make_documents(self.rng_docs, self.sizes)
        path = os.path.join(self.tmp, "input", "docs.parquet")
        write_docs(path, docs_data)
        docs = self._read(DOC_SCHEMA, path)

        def pairs_step():
            df = dedup.minhash_lsh_pairs(docs, id_col="doc_id", text_col="text").cache()
            with self.tracer.span("dedup.minhash_lsh_pairs.action"):
                return df, [(int(r["id_a"]), int(r["id_b"])) for r in df.select("id_a", "id_b").collect()]

        def clusters_step():
            df = dedup.dedup_clusters(docs, pairs_df, id_col="doc_id")
            with self.tracer.span("dedup.dedup_clusters.action"):
                return {int(r["id"]): int(r["rep_id"]) for r in df.collect()}

        pairs_df, pairs = self._step("minhash_lsh_pairs", pairs_step)
        labels = self._step("dedup_clusters", clusters_step)
        pairs_df.unpersist()
        self.check("dedup_clusters", oracle.check_clusters(labels, docs_data.ids, pairs))
        planted = set(docs_data.planted)
        self.counts["dedup.candidate_pairs"] = len(pairs)
        self.counts["dedup.candidates_true_ratio"] = (
            sum(p in planted for p in pairs) / len(pairs) if pairs else 0.0
        )
        self.counts["dedup_pair_recall"] = oracle.pair_recall(labels, docs_data.planted)

    def _bind_serve(self) -> None:
        """The serve facade is bound once to the compacted store state,
        as a server binds its corpus at start."""
        from distributed_vector_database_spark import serve

        self.search_fn = serve.make_search_fn(
            self.store.state(), key_col="key", vec_col="vector", project_cols=(), dim=gen.DIM
        )

    # -- the loop --

    def loop(self, seconds: float) -> None:
        t0 = time.perf_counter()
        for kind in gen.op_schedule(self.workload, seconds):
            self.do(kind, "loop")
        self.timings["loop"] = time.perf_counter() - t0

    def do(self, kind: str, phase: str) -> None:
        if self.tracer.enabled and KIND[kind] in READS and phase == "loop":
            self.log_files.append(self.store._log_file_count())
        try:
            getattr(self, f"_op_{kind}")(phase)
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, the run goes on
            self.check(kind, f"{type(exc).__name__}: {exc}")
        self.prev_kind = kind

    def _live_key(self) -> str:
        keys = list(self.model.live)
        return keys[int(self.rng_ops.integers(0, len(keys)))]

    def _type(self) -> str:
        return gen.type_name(int(self.rng_ops.integers(0, gen.N_TYPES)))

    def _collect(self, name: str, df):
        with self.tracer.span(name):
            return [(r["key"], float(r["score"])) for r in df.collect()]

    def _search(self, phase: str, kind: str, filtered: bool) -> None:
        q = gen.near_vector(self.rng_ops, self.corpus)
        type_ = self._type() if filtered else None
        flt = {"type": type_} if filtered else None
        got, rec = self.timed(
            phase, kind,
            lambda: self._collect("store.search.action", self.store.search(q.tolist(), top_k=TOP_K, filter=flt)),
        )
        if rec is not None:
            rec["rows"] = len(got)
        self.check(kind, oracle.check_exact(got, oracle.model_topk(self.model, q, TOP_K, type_)))

    def _op_exact(self, phase: str) -> None:
        self._search(phase, "exact", filtered=False)

    def _op_exact_f(self, phase: str) -> None:
        self._search(phase, "exact_f", filtered=True)

    def _ann(self, phase: str, kind: str, call, allow_stale: bool) -> None:
        q = gen.near_vector(self.rng_ops, self.corpus)
        got, rec = self.timed(phase, kind, lambda: call(q.tolist()))
        if rec is not None:
            rec["rows"] = len(got)
        self.check(kind, oracle.check_approx(got, self.model, q, TOP_K, allow_stale))
        if phase == "loop":
            self.recalls[kind].append(oracle.recall([k for k, _ in got], oracle.model_topk(self.model, q, TOP_K)))

    def _op_ivf(self, phase: str) -> None:
        # an IVF probe may return a key's vector as of its last index
        # write (the store's documented staleness window)
        self._ann(
            phase, "ivf",
            lambda q: self._collect(
                "store.index_search.action", self.store.index_search(q, top_k=TOP_K, nprobe=self.nprobe)
            ),
            allow_stale=True,
        )

    def _op_hnsw(self, phase: str) -> None:
        self._ann(
            phase, "hnsw",
            lambda q: self._collect("store.hnsw_search.action", self.store.hnsw_search(q, top_k=TOP_K)),
            allow_stale=False,
        )

    def _op_get(self, phase: str) -> None:
        """ingest_churn reads its own writes: right after a single write
        it reads that key, so a get after a delete must return None;
        otherwise it reads a key written earlier in the run. serve_read
        reads a live key, or a deleted one a fifth of the time."""
        if self.workload == "ingest_churn" and self.prev_kind in SINGLE_WRITES:
            key = self.written[-1]
        elif self.workload == "ingest_churn" and self.written:
            key = self.written[int(self.rng_ops.integers(0, len(self.written)))]
        elif self.model.deleted and self.rng_ops.random() < 0.2:
            deleted = sorted(self.model.deleted)
            key = deleted[int(self.rng_ops.integers(0, len(deleted)))]
        else:
            key = self._live_key()
        got, _ = self.timed(phase, "get", lambda: self.store.get(key))
        self.check("get", oracle.check_get(got, self.model.get(key)))

    def _op_serve(self, phase: str) -> None:
        from distributed_vector_database_spark import serve
        from distributed_vector_database_spark.operators.semantic import text2vec

        text = gen.query_text(self.rng_ops)
        payload = {"text": text, "topk": TOP_K}
        (body, status), _ = self.timed(phase, "serve", lambda: serve.search_handler(self.search_fn, payload))
        if status != 200:
            self.counts["serve.errors"] += 1
            self.check("serve", f"status {status}: {body.get('error')}")
            return
        got = [(r["key"], float(r["score"])) for r in body["results"]]
        self.check("serve", oracle.check_exact(got, oracle.model_topk(self.model, text2vec(text, gen.DIM), TOP_K)))

    def _put(self, phase: str, kind: str, key: str) -> None:
        v = gen.near_vector(self.rng_ops, self.corpus)
        type_ = self._type()
        self.timed(phase, kind, lambda: self.store.put(key, v.tolist(), {"type": type_}))
        self.model.put(key, v, type_)
        self.written.append(key)
        self.check(kind, None)

    def _op_put_ow(self, phase: str) -> None:
        self._put(phase, "put_ow", self._live_key())

    def _op_put_new(self, phase: str) -> None:
        self.n_new += 1
        self._put(phase, "put_new", f"n{self.n_new:07d}")

    def _op_delete(self, phase: str) -> None:
        key = self._live_key()
        self.timed(phase, "delete", lambda: self.store.delete(key))
        self.model.delete(key)
        self.written.append(key)
        self.check("delete", None)

    def _op_put_batch(self, phase: str) -> None:
        self.n_batches += 1
        rows = self.sizes.put_batch_rows
        keys = [f"b{self.n_batches:04d}-{i:04d}" for i in range(rows)]
        mat = np.stack([gen.near_vector(self.rng_ops, self.corpus) for _ in range(rows)])
        types = [self._type() for _ in range(rows)]
        path = os.path.join(self.tmp, "input", f"batch-{self.n_batches}.parquet")
        write_vectors(path, keys, mat, types)
        batch = self._read(VEC_SCHEMA, path)
        self.timed(phase, "put_batch", lambda: self.store.put_batch(batch, auto_index=True))
        for k, v, t in zip(keys, mat, types):
            self.model.put(k, v, t)
        self.written.extend(keys)
        self.check("put_batch", None)

    # -- teardown and metrics --

    def close(self) -> None:
        """Stop the session and wait for the JVM to exit; parse the event
        log of a traced run."""
        from pyspark import SparkContext

        self.peak_rss_mb = self.rss.stop()
        if self.trace:
            self.tracer.count_jobs()
        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:  # noqa: BLE001 - never leave the JVM behind
                    proc.kill()
                    proc.wait(timeout=30)
        if self.trace:
            self.tracer.attach_event_log(os.path.join(self.tmp, "events"))
