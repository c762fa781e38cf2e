"""The two workloads, their oracle checks and the metrics they report.

Every workload reports every metric in END_TO_END (untraced run) or
PER_LAYER (traced run); a layer a workload never calls reads 0.
"""

from __future__ import annotations

import os
import time
import traceback

import numpy as np

from corpus import Generator, letter_of, letter_stats, postings, write_tree
from harness import (cpu_seconds, descendants, dir_bytes, median, peak_rss_mb, start_session,
                     tail)
from spans import NullTracer, SpanStats, Tracer

SETUPS = 3
# index_churn rounds per cycle; the last round of a cycle also deletes a few
# documents, refreshes letter_stats and compacts
CHURN_CYCLE = 2
# index_churn runs at least this many cycles: one cycle's CPU time varies
# by a tenth from run to run
MIN_CYCLES = 2
# search_mix requests served, checked and not timed, between set-up and the
# timed window: the first searches of a JVM cost about twice the CPU of the
# fortieth, while the JIT compiles the planner's code paths
WARM_REQUESTS = 30
KINDS = ("lookup", "top_docs", "and", "or", "not")
# request mix of search_mix, per block of 20 requests
MIX = ["lookup"] * 8 + ["top_docs"] * 4 + ["and"] * 3 + ["or"] * 3 + ["not"] * 2
# search_mix serves at least this many requests: the CPU time of single
# requests varies by a fifth from one block of five to the next, so a
# steady mean needs many
MIN_REQUESTS = 4 * len(MIX)

END_TO_END = {
    "setup_s": "s",
    "op_cpu_ms": "ms",
    "store_bytes_per_input_byte": "ratio",
    "ok_ratio": "ratio",
}

_BUILD_KEYS = ("jobs", "stages", "tasks", "exec_cpu_s", "map_cpu_s", "write_cpu_s",
               "shuffle_write_bytes", "output_bytes", "gc_s", "driver_s")
PER_LAYER = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    **{f"indexing.build.{k}": ("count" if k in ("jobs", "stages", "tasks") else
                               "bytes" if k.endswith("bytes") else "s")
       for k in _BUILD_KEYS},
    "indexing.read_index_ms": "ms",
    **{f"search.{kind}.{m}": u for kind in KINDS
       for m, u in (("driver_ms", "ms"), ("job_ms", "ms"), ("jobs", "count"))},
    "search.input_bytes_per_result_row": "bytes",
    "generations.manifest_loads_per_search": "count",
    "generations.manifest_loads_per_append": "count",
    "generations.publish_ms": "ms",
    "commitio.lock_hold_ms": "ms",
    "matview.refresh_ms": "ms",
    "matview.refresh_input_bytes": "bytes",
    "compact.exec_cpu_s": "s",
    "compact.output_bytes": "bytes",
    "api.append_ms": "ms",
    "api.fresh_search_ms": "ms",
    "api.delete_ms": "ms",
    "api.letter_stats_ms": "ms",
    "api.compact_ms": "ms",
    "trace.op_cpu_ms": "ms",
    "trace.op_p50_ms": "ms",
    "trace.op_tail_ms": "ms",
}


class Run:
    """One benchmark process: its session, counters and timings."""

    def __init__(self, seed: int, seconds: int, trace: bool, work: str, pre_gen_s: float):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.pre_gen_s = pre_gen_s
        self.spark = None
        self.tracer = NullTracer()
        self.build_tracer = NullTracer()
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.setup_s: list[float] = []
        self.session_start_s: list[float] = []
        self.setup_build_s: list[float] = []
        self.latencies: list[float] = []
        self.cpu: list[float] = []
        self.busy = 0.0
        self.loop_start: float | None = None
        self.record: dict = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def check(self, ok: bool, what: str) -> None:
        """Count one checked operation; `what` describes a failure."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)

    def timed(self, name: str, fn):
        """Run one library call in a span. Returns (seconds, CPU seconds,
        result), or (None, None, None) when it raised; a raise counts as a
        failed check. The CPU time is that of this process, the JVM and
        the JVM's Python workers."""
        pids = [os.getpid(), *descendants(os.getpid())]
        c0 = cpu_seconds(pids)
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name) as sp:
                result = fn()
                if sp is not None and isinstance(result, list):
                    sp.rows = len(result)
        except Exception:  # an operation failing is a result, not a crash
            self.check(False, f"{name} raised:\n{traceback.format_exc()}")
            return None, None, None
        return time.perf_counter() - t0, cpu_seconds(pids) - c0, result

    def set_up(self, prerequisite):
        """Start the session and build the prerequisites SETUPS times,
        each into fresh paths; the last set-up is the one measured on.
        The first includes interpreter start and imports. A traced run
        traces the last set-up's index build."""
        state = None
        for k in range(SETUPS):
            t0 = time.perf_counter()
            if self.spark is not None:
                self.spark.stop()
            self.spark = start_session(self.work, self.trace)
            if self.trace and k == SETUPS - 1:
                self.build_tracer = Tracer(self.spark, "perfbench-setup-")
            t1 = time.perf_counter()
            state = prerequisite(k)
            t2 = time.perf_counter()
            extra = self.pre_gen_s if k == 0 else 0.0
            self.session_start_s.append(t1 - t0 + extra)
            self.setup_s.append(t2 - t0 + extra)
        return state

    def build(self, corpus_glob: str, path: str):
        """One set-up's `IndexSession.build` of `corpus_glob` into `path`."""
        from map_reduce_indexing_spark.api import IndexSession

        t0 = time.perf_counter()
        with self.build_tracer.span("indexing.build"):
            idx = IndexSession.build(self.spark, corpus_glob, path)
        self.setup_build_s.append(time.perf_counter() - t0)
        return idx

    def add_op(self, seconds: float, cpu_s: float) -> None:
        self.latencies.append(seconds)
        self.cpu.append(cpu_s)
        self.busy += seconds

    def measuring(self, min_ops: int = 0) -> bool:
        """True while the timed window is open: until `seconds` of busy time
        and at least `min_ops` operations. A wall-clock cap ends a run whose
        operations keep failing (and so never add busy time)."""
        if self.loop_start is None:
            self.loop_start = time.perf_counter()
        wall = time.perf_counter() - self.loop_start
        short = self.busy < self.seconds or len(self.latencies) < min_ops
        return short and wall < 4 * self.seconds + 60

    def end_to_end(self, mb: float, store_ratio: float) -> dict:
        pct, tail_s = tail(self.latencies)
        self.record.update(
            ops=len(self.latencies), setup_s_each=self.setup_s,
            build_s_each=self.setup_build_s,
            build_mb_per_s=mb / median(self.setup_build_s[1:]), peak_rss_mb=peak_rss_mb(),
            op_p50_ms=1000 * median(self.latencies), op_tail_ms=1000 * tail_s,
            tail_percentile=round(pct, 2), ops_per_s=len(self.latencies) / self.busy,
            op_ms=[round(1000 * x, 1) for x in self.latencies],
            op_cpu_ms=[round(1000 * x, 1) for x in self.cpu])
        return {
            "setup_s": median(self.setup_s),
            "op_cpu_ms": 1000 * sum(self.cpu) / len(self.cpu),
            "store_bytes_per_input_byte": store_ratio,
            "ok_ratio": (self.attempted - self.failed) / self.attempted,
        }


def _ms(spans) -> float:
    return 1000 * median(s.wall for s in spans)


def per_layer(run: Run) -> dict:
    """Per-layer figures from the spans of the timed window and of the last
    set-up's index build."""
    st = SpanStats(run.tracer)
    m = {name: 0.0 for name in PER_LAYER}
    m["session.start_s"] = run.session_start_s[0]
    m["session.peak_rss_mb"] = run.record["peak_rss_mb"]
    m["trace.op_cpu_ms"] = 1000 * sum(run.cpu) / len(run.cpu)
    m["trace.op_p50_ms"] = 1000 * median(run.latencies)
    m["trace.op_tail_ms"] = 1000 * tail(run.latencies)[1]
    build_st = SpanStats(run.build_tracer)
    builds = [build_st.summary(s) for s in build_st.named("indexing.build")]
    for key in _BUILD_KEYS:
        if builds:
            m[f"indexing.build.{key}"] = median(b[key] for b in builds)
    if st.named("indexing.read_index"):
        m["indexing.read_index_ms"] = _ms(st.named("indexing.read_index"))
    for kind in KINDS:
        sums = [st.summary(s) for s in st.named(f"search.{kind}")]
        if sums:
            m[f"search.{kind}.driver_ms"] = 1000 * median(s["driver_s"] for s in sums)
            m[f"search.{kind}.job_ms"] = 1000 * median(s["job_s"] for s in sums)
            m[f"search.{kind}.jobs"] = median(s["jobs"] for s in sums)
    searches = [s for s in st.spans if s.name.startswith("search.") or s.name == "api.fresh_search"]
    if searches:
        in_bytes = sum(st.summary(s)["input_bytes"] for s in searches)
        m["search.input_bytes_per_result_row"] = in_bytes / max(1, sum(s.rows for s in searches))
        m["generations.manifest_loads_per_search"] = sum(
            len(st.within(s, "generations.load_manifest")) for s in searches) / len(searches)
    appends = st.named("api.append")
    if appends:
        m["generations.manifest_loads_per_append"] = sum(
            len(st.within(s, "generations.load_manifest")) for s in appends) / len(appends)
        m["commitio.lock_hold_ms"] = 1000 * median(
            sum(h.wall for h in st.within(s, "commitio.lock_hold")) for s in appends)
        m["api.append_ms"] = _ms(appends)
    if st.named("generations.publish_generation"):
        m["generations.publish_ms"] = _ms(st.named("generations.publish_generation"))
    refreshes = st.named("matview.refresh")
    if refreshes:
        m["matview.refresh_ms"] = _ms(refreshes)
        m["matview.refresh_input_bytes"] = median(st.summary(s)["input_bytes"] for s in refreshes)
    compacts = st.named("api.compact")
    if compacts:
        sums = [st.summary(s) for s in compacts]
        m["compact.exec_cpu_s"] = median(s["exec_cpu_s"] for s in sums)
        m["compact.output_bytes"] = median(s["output_bytes"] for s in sums)
        m["api.compact_ms"] = _ms(compacts)
    for name in ("fresh_search", "delete", "letter_stats"):
        if st.named(f"api.{name}"):
            m[f"api.{name}_ms"] = _ms(st.named(f"api.{name}"))
    return m


def trace_library(run: Run) -> None:
    """Open the timed window of a traced run: record spans from here on and
    wrap the library functions whose calls the per-layer figures count."""
    if not run.trace:
        return
    run.tracer = Tracer(run.spark)
    from map_reduce_indexing_spark import api
    from map_reduce_indexing_spark.operators import matview
    from map_reduce_indexing_spark.sources import commitio, generations

    t = run.tracer
    t.wrap_function(api, "read_index", "indexing.read_index", jobs=True)
    t.wrap_function(generations, "load_manifest", "generations.load_manifest")
    for name in ("publish_generation", "ensure_base_generation", "delete_rows",
                 "maybe_autocompact"):
        t.wrap_function(generations, name, f"generations.{name}", jobs=True)
    t.wrap_function(matview, "refresh_matview", "matview.refresh", jobs=True)
    t.wrap_context(type(commitio.IO), "writer_lock", "commitio.lock_hold")


# -- search_mix ----------------------------------------------------------


def _requests(gen: Generator, index: dict, rng: np.random.Generator):
    """Endless request stream: (kind, args, expected)."""

    def term():
        if rng.random() < 0.05:
            while True:
                w = "".join(chr(97 + c) for c in rng.integers(0, 26, rng.integers(5, 10)))
                if w not in index:
                    return w
        return gen.vocab[int(gen.ranks(1, rng)[0])]

    def docs(t):
        return set(index.get(t, {}))

    while True:
        for kind in rng.permutation(MIX):
            if kind in ("lookup", "top_docs"):
                t = term()
                hits = sorted(index.get(t, {}).items())
                if kind == "top_docs":
                    hits = sorted(hits, key=lambda dc: (-dc[1], dc[0]))[:10]
                yield kind, (t,), hits
            elif kind == "not":
                a, b = term(), term()
                yield kind, (a, b), sorted(docs(a) - docs(b))
            else:
                ts = [term() for _ in range(int(rng.integers(2, 4)))]
                sets = [docs(t) for t in ts]
                hit = set.intersection(*sets) if kind == "and" else set.union(*sets)
                yield kind, (ts,), sorted(hit)


def _search_call(idx, kind: str, args):
    if kind == "lookup":
        return lambda: idx.lookup(*args).collect()
    if kind == "top_docs":
        return lambda: idx.top_docs(*args, k=10).collect()
    fn = {"and": idx.search_all, "or": idx.search_any, "not": idx.exclude}[kind]
    return lambda: fn(*args).collect()


def _shape(kind: str, rows) -> list:
    if kind == "lookup":
        return sorted((r["doc_id"], r["cnt"]) for r in rows)
    if kind == "top_docs":
        return [(r["doc_id"], r["cnt"]) for r in rows]
    return sorted(r["doc_id"] for r in rows)


def search_mix(run: Run) -> dict:
    gen = Generator(run.seed)
    texts = {f"d{i:05d}": t for i, t in enumerate(gen.documents(40, 20_000, 100_000))}
    index = postings(write_tree(run.path("corpus"), texts, 3))
    in_bytes = sum(len(t) for t in texts.values())
    corpus_glob = run.path("corpus", "*", "*")
    requests = _requests(gen, index, np.random.default_rng([run.seed, 1]))
    warm = _requests(gen, index, np.random.default_rng([run.seed, 2]))

    def serve(idx, kind, args, expected):
        dt, cpu, rows = run.timed(f"search.{kind}", _search_call(idx, kind, args))
        if dt is not None:
            got = _shape(kind, rows)
            run.check(got == expected, f"{kind}{args}: got {got[:5]}..., oracle {expected[:5]}...")
        return dt, cpu

    def prerequisite(k):
        return run.build(corpus_glob, run.path(f"setup{k}"))

    idx = run.set_up(prerequisite)
    for _ in range(WARM_REQUESTS):
        serve(idx, *next(warm))
    trace_library(run)
    by_kind: dict = {k: [] for k in KINDS}
    while run.measuring(MIN_REQUESTS):
        # whole blocks of the mix, so that every run serves the same shares
        for _ in MIX:
            kind, args, expected = next(requests)
            dt, cpu = serve(idx, kind, args, expected)
            if dt is not None:
                run.add_op(dt, cpu)
                by_kind[kind].append(dt)
    run.tracer.unwrap_all()
    run.record.update(corpus_mb=in_bytes / 1e6, docs=len(texts),
                      search_p50_ms={k: 1000 * median(v) for k, v in by_kind.items()},
                      requests={k: len(v) for k, v in by_kind.items()})
    return run.end_to_end(in_bytes / 1e6, dir_bytes(idx.index_path) / in_bytes)


# -- index_churn ---------------------------------------------------------


def index_churn(run: Run) -> dict:
    gen = Generator(run.seed)
    rng = np.random.default_rng([run.seed, 3])
    base_texts = {f"b{i:04d}": t for i, t in enumerate(gen.documents(30, 20_000, 60_000))}
    live = write_tree(run.path("base"), base_texts, 3)
    index = postings(live)
    base_mb = sum(len(t) for t in base_texts.values()) / 1e6
    in_bytes = sum(len(t) for t in base_texts.values())

    def prerequisite(k):
        idx = run.build(run.path("base", "*", "*"), run.path(f"setup{k}", "index"))
        return idx, idx.letter_stats().collect()

    idx, stats = run.set_up(prerequisite)
    _check_stats(run, "setup", stats, index)

    def admit(docs: dict) -> None:
        for doc, counts in docs.items():
            live[doc] = counts
            for w, c in counts.items():
                index.setdefault(w, {})[doc] = c

    def drop(doc: str) -> None:
        for w in live.pop(doc):
            del index[w][doc]
            if not index[w]:
                del index[w]

    trace_library(run)
    times: dict = {k: [] for k in ("append", "fresh_search", "delete", "letter_stats", "compact")}
    r, store_ratio = 0, 0.0
    while run.measuring(MIN_CYCLES * CHURN_CYCLE):
        for _ in range(CHURN_CYCLE):
            r += 1
            fresh = "qqfresh" + letter_of(r)
            while fresh in index:
                fresh = "q" + fresh
            texts = {f"r{r:04d}x{j:02d}": t for j, t in enumerate(gen.documents(50, 1000, 3000))}
            ids = list(texts)
            holders = [ids[j] for j in rng.choice(50, 5, replace=False)]
            for doc in holders:
                texts[doc] += (" " + fresh) * int(rng.integers(1, 4))
            batch = write_tree(run.path(f"batch{r}"), texts, 1)
            in_bytes += sum(len(t) for t in texts.values())
            round_s = round_cpu = 0.0

            def step(name, fn):
                nonlocal round_s, round_cpu
                dt, cpu, res = run.timed(f"api.{name}", fn)
                if dt is not None:
                    round_s += dt
                    round_cpu += cpu
                    times[name].append(dt)
                return res

            step("append", lambda: idx.append(run.path(f"batch{r}", "*", "*")))
            admit(batch)
            rows = step("fresh_search", lambda: idx.lookup(fresh).collect())
            if rows is not None:
                got = sorted((x["doc_id"], x["cnt"]) for x in rows)
                run.check(got == sorted(index[fresh].items()),
                          f"round {r}: read-your-writes for {fresh!r} got {got}")
            if r % CHURN_CYCLE == 0:
                spare = sorted(d for d in live if d.startswith("b"))
                victims = [spare[j] for j in rng.choice(len(spare), 2, replace=False)]
                victims.append(next(d for d in ids if d not in holders))
                step("delete", lambda: idx.delete_docs(victims))
                for doc in victims:
                    drop(doc)
                stats = step("letter_stats", lambda: idx.letter_stats().collect())
                if stats is not None:
                    _check_stats(run, f"round {r}", stats, index)
                step("compact", idx.compact)
                if r == CHURN_CYCLE:
                    # measured once, at the same point of every run: a run
                    # that fits more cycles retains more generations
                    store = dir_bytes(idx.index_path, idx.index_path + "_letter_stats")
                    store_ratio = store / in_bytes
            run.add_op(round_s, round_cpu)
    run.tracer.unwrap_all()
    got = idx.postings().count()
    want = sum(len(d) for d in index.values())
    run.check(got == want, f"final postings {got}, oracle {want}")
    run.record.update(
        base_mb=base_mb, rounds=r,
        append_p50_ms=1000 * median(times["append"]),
        append_tail_ms=1000 * tail(times["append"])[1],
        fresh_search_p50_ms=1000 * median(times["fresh_search"]),
        delete_p50_ms=1000 * median(times["delete"]),
        letter_stats_p50_ms=1000 * median(times["letter_stats"]),
        compact_s=median(times["compact"]),
        churn_docs_per_s=50 * r / run.busy,
    )
    return run.end_to_end(base_mb, store_ratio)


def _check_stats(run: Run, when: str, rows, index: dict) -> None:
    got = {r["letter"]: (r["total_cnt"], r["n_words"], r["n_docs"]) for r in rows}
    want = letter_stats(index)
    bad = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
    run.check(not bad, f"{when}: letter_stats differ on {bad[:5]}: "
                       f"{[(k, got.get(k), want.get(k)) for k in bad[:3]]}")


WORKLOADS = {
    "search_mix": search_mix,
    "index_churn": index_churn,
}
