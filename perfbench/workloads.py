"""The three workloads: seeded inputs, the timed closed loop, and checks.

Every workload runs one client thread in a closed loop: the next
operation starts when the previous one has returned. ``setup`` runs once
before the timed window (warm-up, fits, artifact builds, cold caches),
``run`` measures for the given seconds, ``check`` compares outputs with
an independent answer outside the timed window and returns the indexes of
the operations whose output was wrong.

The seed chooses only request parameters, query order and the duplicates
injected into the ingest stream; the tables are the fixed sf0.1 drop in
``perfbench/data/sf0.1``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from oracles import (ORDERED_ROUTES, cached_answer, compare, connect, route_sql,
                     token_ok)

# ------------------------------------------------------------ generators

# requests per route in every block of 20: search-heavy, and the same
# route composition on every seed (the seed shuffles each block and picks
# the parameters), so a run's latency median does not move with the mix
ROUTE_BLOCK = {
    "search_ads": 6, "get_ad": 2, "favorites_of": 2, "is_favorite": 2,
    "my_ads": 2, "conversations_list": 2, "messages_of": 1,
    "admin_users": 1, "admin_stats": 1, "login": 1,
}
SEARCH_TERMS = ["urgent", "high", "low", "medium", "specified", "o"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ZIPF_S = 1.1


class _Zipf:
    """Zipf(s) ranks over ``n`` keys, mapped to keys by a fixed seeded
    permutation so the hot keys are spread over the key space."""

    def __init__(self, rng: np.random.Generator, n: int, s: float = ZIPF_S):
        w = 1.0 / np.arange(1, n + 1) ** s
        self.cdf = np.cumsum(w) / w.sum()
        self.keys = rng.permutation(n)

    def __call__(self, rng: np.random.Generator) -> int:
        return int(self.keys[min(np.searchsorted(self.cdf, rng.random()),
                                 len(self.keys) - 1)])


def _page(rng) -> int:
    """Mostly page 1, a tail of near and deep pages."""
    r = rng.random()
    if r < 0.7:
        return 1
    if r < 0.9:
        return int(rng.integers(2, 6))
    return int(rng.integers(10, 201))


def make_requests(seed: int, n: int, dims: dict) -> list[dict]:
    """``n`` route calls for ``marketplace_api``; ``dims`` gives the key
    ranges (customers, orders, event users)."""
    rng = np.random.default_rng(seed)
    cust = _Zipf(rng, dims["customers"])
    order = _Zipf(rng, dims["orders"])
    user = _Zipf(rng, dims["users"])
    block = [r for r, k in ROUTE_BLOCK.items() for _ in range(k)]
    out = []
    for i in range(n):
        if i % len(block) == 0:
            shuffled = rng.permutation(block)
        route = str(shuffled[i % len(block)])
        if route == "search_ads":
            a = {"status": "O", "sort_by": str(rng.choice(
                     ["newest", "price_low", "price_high"])),
                 "page": _page(rng), "limit": 20,
                 "search": None, "priority": None,
                 "min_price": None, "max_price": None}
            if rng.random() < 0.4:
                a["search"] = str(rng.choice(SEARCH_TERMS))
            if rng.random() < 0.2:
                a["priority"] = str(rng.choice(PRIORITIES))
            if rng.random() < 0.5:
                lo = float(rng.integers(1, 200)) * 1000.0
                a["min_price"], a["max_price"] = lo, lo + float(rng.integers(20, 300)) * 1000.0
        elif route in ("get_ad",):
            a = {"order_key": order(rng)}
        elif route == "is_favorite":
            a = {"order_key": order(rng), "line_number": int(rng.integers(1, 8))}
        elif route in ("favorites_of", "my_ads"):
            a = {"cust_key": cust(rng)}
        elif route in ("conversations_list", "messages_of"):
            a = {"user_id": user(rng)}
        elif route == "admin_users":
            a = {"page": _page(rng), "limit": 20}
        elif route == "login":
            k = cust(rng)
            a = {"cust_key": k,
                 "password": f"pw-{k}" if rng.random() < 0.9 else "wrong"}
        else:
            a = {}
        out.append({"route": route, "args": a})
    return out


def make_stream(seed: int, docs: pd.DataFrame, p_exact: float = 0.03,
                p_near: float = 0.05) -> pd.DataFrame:
    """The ingest stream: ``docs`` in doc_id order with exact copies and
    one-word edits of earlier docs injected, re-keyed 0..n-1 in arrival
    order (the ingest pipeline requires arrival-monotone ids)."""
    rng = np.random.default_rng(seed)
    texts = docs.sort_values("doc_id")["text"].tolist()
    out: list[str] = []
    for t in texts:
        out.append(t)
        r = rng.random()
        if r < p_exact:
            out.append(out[int(rng.integers(0, len(out)))])
        elif r < p_exact + p_near:
            words = out[int(rng.integers(0, len(out)))].split()
            words[int(rng.integers(0, len(words)))] = "edited"
            out.append(" ".join(words))
    return pd.DataFrame({"doc_id": np.arange(len(out), dtype="int64"),
                         "text": out})


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    v = sorted(values)
    return v[max(0, min(len(v) - 1, int(np.ceil(q / 100.0 * len(v))) - 1))]


def dir_bytes(*paths: str) -> tuple[int, int]:
    """(bytes, files) under ``paths``."""
    n = b = 0
    for p in paths:
        for root, _, files in os.walk(p):
            for f in files:
                try:
                    b += os.path.getsize(os.path.join(root, f))
                    n += 1
                except OSError:
                    pass
    return b, n


# ------------------------------------------------------------- workloads


class Workload:
    """Shared closed loop. Subclasses define ``setup``, ``one`` (one timed
    operation) and ``check``."""

    def __init__(self, spark, cfg: dict, tracer):
        self.spark, self.cfg, self.tr = spark, cfg, tracer
        self.sf_dir = cfg["sf_dir"]
        self.ops: list[dict] = []   # {"key", "latency_s", "error"}
        self.window_s = 0.0

    def state_dirs(self) -> list[str]:
        return [self.cfg["tmp_dir"], self.cfg["work_dir"]]

    def input_bytes(self) -> int:
        return sum(os.path.getsize(os.path.join(self.sf_dir, f))
                   for f in os.listdir(self.sf_dir) if f.endswith(".parquet"))

    def more(self) -> bool:
        return True

    def run(self, seconds: float) -> None:
        """Closed loop for ``seconds``: start the next operation only while
        it is expected (from the last one) to end inside the window, so a
        run measures whole operations and about ``seconds`` of them."""
        t_start = time.perf_counter()
        last = 0.0
        while self.more():
            elapsed = time.perf_counter() - t_start
            if self.ops and elapsed + last > seconds:
                break
            t0 = time.perf_counter()
            self.one()
            last = time.perf_counter() - t0
        self.window_s = time.perf_counter() - t_start

    def latencies(self) -> list[float]:
        return [o["latency_s"] for o in self.ops]

    def cycles(self) -> list[tuple[int, float]]:
        """(operations, wall seconds) of each turn of the closed loop."""
        return [(1, o["latency_s"]) for o in self.ops]

    def metrics(self) -> dict:
        lat = self.latencies()
        stored = dir_bytes(*self.state_dirs())[0]
        return {
            "latency_p50_s": statistics.median(lat),
            "latency_p90_s": percentile(lat, 90),
            "n_latency_samples": len(lat),
            # one client in a closed loop: throughput is operations per
            # turn over the turn's wall time, taken at the median turn so
            # that one slow turn in a short window does not move it
            "ops_per_s": statistics.median(n / s for n, s in self.cycles()),
            "window_ops_per_s": len(self.ops) / self.window_s,
            "stored_bytes_per_input_byte": stored / self.input_bytes(),
        }

    def _timed(self, key: str, build, action, release=None):
        """One operation: build span, action span, optional release."""
        rec = {"key": key, "error": None}
        t0 = time.perf_counter()
        with self.tr.span("op", key=key, phase="timed"):
            try:
                with self.tr.span("build"):
                    built = build()
                with self.tr.span("action"):
                    rec["out"] = action(built)
                if release is not None:
                    with self.tr.span("release"):
                        release(built)
            except Exception as e:  # counted as a failed operation
                rec["error"] = f"{type(e).__name__}: {e}"[:300]
        rec["latency_s"] = time.perf_counter() - t0
        self.ops.append(rec)
        return rec


def _noop(df) -> None:
    """Evaluate every row and column without collecting (bench.py run_full)."""
    df.write.format("noop").mode("overwrite").save()


def _num_rows(sf_dir: str, table: str) -> int:
    return pq.read_metadata(os.path.join(sf_dir, f"{table}.parquet")).num_rows


def _collect(df) -> pd.DataFrame:
    rows = df.collect()
    return pd.DataFrame([r.asDict() for r in rows], columns=df.columns)


class MarketplaceApi(Workload):
    """Route calls on ``engine.MarketplaceEngine``, results collected to
    the driver as the API would return them."""

    N_REQUESTS = 5000

    def setup(self):
        from etl_backend_spark.engine import MarketplaceEngine, SearchParams

        self.SearchParams = SearchParams
        self.engine = MarketplaceEngine(self.spark, self.sf_dir)
        dims = {"customers": _num_rows(self.sf_dir, "customer"),
                "orders": _num_rows(self.sf_dir, "orders"),
                "users": int(pq.read_table(os.path.join(self.sf_dir, "events.parquet"),
                                           columns=["user_id"])["user_id"]
                             .to_numpy().max()) + 1}
        self.requests = make_requests(self.cfg["seed"], self.N_REQUESTS, dims)
        # warm-up: every route once, with parameters that do not depend on
        # the seed, so set-up does the same work on every run
        warm = make_requests(0, sum(ROUTE_BLOCK.values()), dims)
        seen = {}
        for r in warm:
            seen.setdefault(r["route"], r)
        for r in seen.values():
            {k: _collect(v) for k, v in self._build(r).items()}
        self.i = 0

    def _build(self, req: dict) -> dict:
        """The route call: {part: DataFrame}, search_ads giving its page
        and its total."""
        e, a, route = self.engine, req["args"], req["route"]
        if route == "search_ads":
            res = e.search_ads(self.SearchParams(**a))
            return {"rows": res.rows, "total": res.total}
        return {"rows": {
            "get_ad": lambda: e.get_ad(a["order_key"]),
            "my_ads": lambda: e.my_ads(a["cust_key"]),
            "favorites_of": lambda: e.favorites_of(a["cust_key"]),
            "is_favorite": lambda: e.is_favorite(a["order_key"], a["line_number"]),
            "messages_of": lambda: e.messages_of(a["user_id"]),
            "conversations_list": lambda: e.conversations_list(a["user_id"]),
            "admin_stats": e.admin_stats,
            "admin_users": lambda: e.admin_users(a["page"], a["limit"]),
            "login": lambda: e.login(a["cust_key"], a["password"]),
        }[route]()}

    def one(self) -> None:
        req = self.requests[self.i % len(self.requests)]
        self.i += 1
        rec = self._timed(req["route"], lambda: self._build(req),
                          lambda dfs: {k: _collect(v) for k, v in dfs.items()})
        rec["req"] = req

    def check(self) -> set[int]:
        bad = set()
        con = connect(self.sf_dir)
        for i, op in enumerate(self.ops):
            if op["error"]:
                continue
            route, a = op["key"], op["req"]["args"]
            for part, sql in route_sql(route, a).items():
                got = op["out"][part]
                if route == "login":
                    if not all(token_ok(t, str(a["cust_key"])) for t in got["token"]):
                        op["error"] = "login: bad token"
                    got = got.drop(columns=["token"])
                want = con.sql(sql).df()
                why = compare(got, want, ordered=route in ORDERED_ROUTES)
                if why:
                    op["error"] = f"{route}.{part}: {why}"
            if op["error"]:
                bad.add(i)
            op.pop("out", None)
        con.close()
        return bad


# registry keys timed by batch_pipeline: text (BPE merges fit), dedup,
# similarity (PQ codebook fit), media, and SemDeDup ingest (centroid fit,
# artifact writes from a thread pool); README.md lists the keys left out
BATCH_KEYS = [
    "tokenize_bpe", "dedup_minhash_lsh", "sim_topk_pq", "multimodal_webp",
    "semdedup_incremental",
]


class BatchPipeline(Workload):
    """Passes over registry keys executed with the noop sink and
    ``release_plan_checkpoints``; the seed shuffles each pass's order."""

    def setup(self):
        from etl_backend_spark.operators.windows import release_plan_checkpoints
        from etl_backend_spark.registry import QUERIES

        self.queries, self.release = QUERIES, release_plan_checkpoints
        self.rng = np.random.default_rng(self.cfg["seed"])
        self.outputs = {}
        # warm-up: each key once (fits, artifact builds, codegen); its
        # output is kept and checked against the oracle after the window
        for k in BATCH_KEYS:
            try:
                df = QUERIES[k](self.spark, self.sf_dir)
                self.outputs[k] = df.toPandas()
                release_plan_checkpoints(df)
            except Exception as e:
                self.outputs[k] = e
        # one untimed noop pass: the first pass after the cold one still
        # runs up to ~25% slower than the ones after it
        for k in BATCH_KEYS:
            if not isinstance(self.outputs[k], Exception):
                df = QUERIES[k](self.spark, self.sf_dir)
                _noop(df)
                release_plan_checkpoints(df)
        self.passes: list[float] = []

    def one(self) -> None:
        """One pass: every key once, in a seeded order."""
        t0 = time.perf_counter()
        for k in self.rng.permutation(BATCH_KEYS):
            self._timed(str(k), lambda k=str(k): self.queries[k](self.spark, self.sf_dir),
                        _noop, self.release)
        self.passes.append(time.perf_counter() - t0)

    def latencies(self) -> list[float]:
        """A pass is the unit a batch user waits for: latency is pass_s."""
        return self.passes

    def cycles(self) -> list[tuple[int, float]]:
        return [(len(BATCH_KEYS), p) for p in self.passes]

    def _warm(self, k: str):
        """``k``'s output on the path the window timed: fitted state,
        caches and artifacts already built."""
        try:
            df = self.queries[k](self.spark, self.sf_dir)
            out = df.toPandas()
            self.release(df)
            return out
        except Exception as e:
            return e

    def _verify(self, con, k: str, got) -> str | None:
        from etl_backend_spark.registry import ORACLE_GATES, ORACLES

        if isinstance(got, Exception):
            return f"{type(got).__name__}: {got}"
        if k not in ORACLES:
            # no oracle: the set-up output must have rows, and the warm
            # output must equal it
            cold = self.outputs[k]
            if got is cold:
                return None if len(got) else "no rows"
            return compare(got, cold)
        gated = k in ORACLE_GATES and not ORACLE_GATES[k](self.sf_dir)
        want = cached_answer(con, ORACLES[k], self.cfg["answer_dir"],
                             self.cfg["run_dir"])
        return compare(got, want, rows_only=gated)

    def check(self) -> set[int]:
        """The cold set-up output of every key, then a warm rebuild of it,
        against the oracle. Replay oracles read the artifacts as they are
        when the output is checked."""
        con = connect(self.sf_dir)
        wrong = {}
        for k in BATCH_KEYS:
            why = self._verify(con, k, self.outputs[k])
            if why:
                wrong[k] = f"cold: {why}"
                continue
            why = self._verify(con, k, self._warm(k))
            if why:
                wrong[k] = f"warm: {why}"
        con.close()
        self.wrong = wrong
        bad = set()
        for i, op in enumerate(self.ops):
            if op["key"] in wrong and not op["error"]:
                op["error"] = wrong[op["key"]]
            if op["error"]:
                bad.add(i)
        return bad


class IngestStream(Workload):
    """A seeded document stream through ``StreamingDedupIngest.writer``:
    a parquet file source with ``maxFilesPerTrigger=1``, drained with
    ``availableNow`` one file (one micro-batch) at a time."""

    BATCH_DOCS = 500
    WARMUP_BATCHES = 3

    def state_dirs(self) -> list[str]:
        return [self.root]

    def input_bytes(self) -> int:
        return dir_bytes(self.src)[0]

    def setup(self):
        from etl_backend_spark.streaming.ingest_pipeline import StreamingDedupIngest

        run = self.cfg["run_dir"]
        self.root, self.ckpt = os.path.join(run, "state"), os.path.join(run, "ckpt")
        self.staged, self.src = os.path.join(run, "staged"), os.path.join(run, "src")
        warm = os.path.join(run, "warmup")
        for d in (self.staged, self.src, os.path.join(warm, "src")):
            os.makedirs(d)
        docs = pd.read_parquet(os.path.join(self.sf_dir, "documents.parquet"),
                               columns=["doc_id", "text"])
        self.stream = make_stream(self.cfg["seed"], docs)
        self.files = []
        for i in range(0, len(self.stream), self.BATCH_DOCS):
            name = f"part-{i // self.BATCH_DOCS:05d}.parquet"
            path = os.path.join(self.staged, name)
            self.stream.iloc[i:i + self.BATCH_DOCS].to_parquet(path, index=False)
            # the file source orders by modification time: space them a
            # second apart so arrival order is the doc_id order
            os.utime(path, (1_000_000 + len(self.files),) * 2)
            self.files.append(name)
        # untimed warm-up on a throwaway ingest of its own, fed copies of
        # the first files, so the timed window drains the whole stream from
        # its start: the cold batch and the two after it run 10-35% slower
        # than later ones
        warm_ingest = StreamingDedupIngest(self.spark, os.path.join(warm, "state"))
        for name in self.files[:self.WARMUP_BATCHES]:
            shutil.copy2(os.path.join(self.staged, name),
                         os.path.join(warm, "src", name))
            self._drain(warm_ingest, os.path.join(warm, "src"),
                        os.path.join(warm, "ckpt"))
        self.ingest = StreamingDedupIngest(self.spark, self.root)
        self.n_fed = 0

    def _drain(self, ingest, src: str, ckpt: str) -> list[dict]:
        """Drain the one new file in ``src``: one ``availableNow`` query,
        one micro-batch."""
        stream = (self.spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = ingest.writer(stream, ckpt).trigger(availableNow=True).start()
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return [p for p in q.recentProgress if p["numInputRows"] > 0]

    def more(self) -> bool:
        return self.n_fed < len(self.files)

    def one(self) -> None:
        """Move the next file into the source and drain it."""
        t0 = time.perf_counter()
        name = self.files[self.n_fed]
        rec = {"key": "micro_batch", "error": None, "batch_id": self.n_fed}
        self.n_fed += 1
        with self.tr.span("op", key="micro_batch", phase="timed"):
            try:
                os.replace(os.path.join(self.staged, name),
                           os.path.join(self.src, name))
                prog = self._drain(self.ingest, self.src, self.ckpt)
                d = prog[-1]["durationMs"]
                rec.update(latency_s=d["triggerExecution"] / 1e3, duration=d,
                           rows=sum(p["numInputRows"] for p in prog))
            except Exception as e:
                rec["error"] = f"{type(e).__name__}: {e}"[:300]
        rec["wall_s"] = time.perf_counter() - t0
        rec.setdefault("latency_s", rec["wall_s"])
        self.ops.append(rec)

    def cycles(self) -> list[tuple[int, float]]:
        return [(1, o["wall_s"]) for o in self.ops]

    def metrics(self) -> dict:
        m = super().metrics()
        m["docs_per_s"] = (sum(o.get("rows", 0) for o in self.ops)
                           / sum(o["wall_s"] for o in self.ops))
        return m

    def check(self) -> set[int]:
        """Every fed doc is in hash_index exactly once, no two survivors
        share a hash, and the survivors equal a one-shot ingest of the
        same prefix of the stream."""
        from etl_backend_spark.streaming.ingest_pipeline import StreamingDedupIngest

        fed = self.stream.iloc[:min(self.n_fed * self.BATCH_DOCS, len(self.stream))]
        st = self.ingest.state()
        idx = st["hash_index"].select("doc_id").toPandas()["doc_id"]
        surv = st["survivors"].select("doc_id", "h").toPandas()
        bad_docs = set(idx[idx.duplicated()]) | (set(fed["doc_id"]) ^ set(idx))
        bad_docs |= set(surv.loc[surv["h"].duplicated(keep=False), "doc_id"])
        one = StreamingDedupIngest(self.spark, os.path.join(self.cfg["run_dir"], "oneshot"))
        one.process_batch(self.spark.createDataFrame(fed), 0)
        want = set(one.state()["survivors"].select("doc_id").toPandas()["doc_id"])
        bad_docs |= want ^ set(surv["doc_id"])
        self.bad_docs = sorted(int(d) for d in bad_docs)[:20]
        bad = set()
        # an operation's batch_id is the index of the file it drained
        for i, op in enumerate(self.ops):
            if op["error"]:
                bad.add(i)
                continue
            lo = op["batch_id"] * self.BATCH_DOCS
            if any(lo <= d < lo + self.BATCH_DOCS for d in bad_docs):
                op["error"] = "state check failed"
                bad.add(i)
        if bad_docs and not bad:   # wrong docs outside every timed batch
            self.ops[0]["error"] = "state check failed outside the timed batches"
            bad.add(0)
        shutil.rmtree(os.path.join(self.cfg["run_dir"], "oneshot"), ignore_errors=True)
        return bad


WORKLOADS = {
    "marketplace_api": MarketplaceApi,
    "batch_pipeline": BatchPipeline,
    "ingest_stream": IngestStream,
}
