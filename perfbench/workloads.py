"""The benchmark's workloads.  Each is one closed-loop client on one thread.

A workload sets up (``setup``), runs its operations for a wall-clock budget
(``run``), then checks its answers outside the timed region (``check``).
``lat`` holds the latency in seconds of every operation the end-to-end
metrics are taken over, and ``items`` the work that ``throughput`` counts.
In the traced run some operations are traced and the rest are not
(``traced`` marks which, None for operations left out of the comparison), so
that the tracing overhead is measured in the same process.
"""

from __future__ import annotations

import glob
import os
import time
from contextlib import nullcontext

import numpy as np

from gen import BLOCK, N_REPOS, Generator

SCHEMA = "repo string, path string, commit string, lang string, content string"


def rank_mismatch(got: list[tuple[str, float]], oracle_all: list[tuple[int, str, float]],
                  k: int) -> str | None:
    """Rank identity on (path, score), tolerant only of the order of equal
    scores: the engine's top-k scores must equal the oracle's, and every hit
    must carry the oracle's score for its path."""
    want = [s for _, _, s in oracle_all[:k]]
    if len(got) != len(want):
        return f"{len(got)} hits, oracle {len(want)}"
    score_of = {p: s for _, p, s in oracle_all}
    for i, ((path, score), ws) in enumerate(zip(got, want)):
        if abs(score - ws) > 1e-6 * max(1.0, abs(ws)):
            return f"rank {i}: score {score!r}, oracle {ws!r}"
        if path not in score_of or abs(score_of[path] - score) > 1e-6 * max(1.0, abs(score)):
            return f"rank {i}: {path} scored {score!r}, oracle {score_of.get(path)!r}"
    return None


def dir_usage(root: str) -> tuple[int, int, int]:
    """(bytes, files, snapshot manifests) under the warehouse ``root``."""
    n = b = snaps = 0
    for dp, _, fs in os.walk(root):
        for f in fs:
            b += os.path.getsize(os.path.join(dp, f))
            n += 1
            snaps += f.startswith("manifest-") and f.endswith(".json")
    return b, n, snaps


def live_bytes(catalog) -> int:
    """Bytes of the files the current snapshots of ``catalog`` reference."""
    from lucene_plugin_spark.storage.catalog import entry_path
    seen, tot = set(), 0
    for name in catalog.table_names():
        t = catalog.table(name)
        if t.current_snapshot_id() is None:
            continue
        for e in t.snapshot().data_dirs:
            for f in glob.glob(os.path.join(entry_path(e), "**", "*"), recursive=True):
                if os.path.isfile(f) and f not in seen:
                    seen.add(f)
                    tot += os.path.getsize(f)
    return tot


def _pct(xs, q) -> float:
    return float(np.percentile(np.asarray(xs, dtype=np.float64), q)) if xs else 0.0


def _check_index(spark, catalog) -> str | None:
    from lucene_plugin_spark.storage.checker import check_index
    errs = check_index(spark, catalog)["errors"]
    return f"check_index: {len(errs)} errors: {'; '.join(errs[:3])}" if errs else None


class Workload:
    name = ""
    why = ""
    #: request kinds of the timed operations
    kinds: set[str] = set()

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.gen: Generator = ctx.gen
        self.lat: list[float] = []
        self.traced: list[bool | None] = []
        self.items = 0
        self.attempted = 0
        self._kind_ops: dict[str, int] = {}
        #: one line per failed or wrong operation
        self.failures: list[str] = []
        self.rows: list[dict] = []
        self.catalog = None
        #: traced build requests, with the builder's ``stage_times``
        self.build_requests: list[dict] = []

    # helpers ---------------------------------------------------------------
    def _warehouse(self, tag: str) -> str:
        return os.path.join(self.ctx.work, f"{self.name}-{tag}")

    def _request(self, kind: str, traced: bool = True):
        """A request: traced when asked in the traced run, else plain."""
        rec = self.ctx.rec
        return rec.request(kind, traced) if rec else nullcontext({})

    def _span(self, name: str, layer: str):
        rec = self.ctx.rec
        return rec.span(name, layer) if rec and rec.enabled else nullcontext()

    def _build(self, rows: list[dict], tag: str):
        """Bulk-build ``rows`` into a fresh warehouse with IndexBuilder."""
        from lucene_plugin_spark.index.builder import IndexBuilder
        from lucene_plugin_spark.storage.catalog import Catalog
        cat = Catalog(self._warehouse(tag))
        b = IndexBuilder(self.spark, cat)
        res = b.build(self.spark.createDataFrame(rows, SCHEMA))
        return cat, b, res

    def _keep_stage_times(self, info: dict, builder) -> None:
        if info:
            info["stage_times"] = dict(builder.stage_times)
            self.build_requests.append(info)

    def _op(self, kind: str, fn, items: int = 1, into: list | None = None,
            traced: bool | None = None, compare: bool = True):
        """Time one operation into ``into`` (default ``lat``); a failure is
        counted, not raised.  In the traced run the operation is traced when
        ``traced`` is true, by default every other operation of a kind;
        ``compare=False`` leaves it out of the tracing-overhead comparison.
        Returns (result or None, seconds, request info)."""
        n = self._kind_ops.get(kind, 0)
        self._kind_ops[kind] = n + 1
        traced = self.ctx.rec is not None and (n % 2 == 0 if traced is None else traced)
        self.attempted += 1
        with self._request(kind, traced) as info:
            t0 = time.perf_counter()
            try:
                out = fn()
            except Exception as e:  # a failed operation is a result, not a crash
                self.failures.append(f"{kind}: {type(e).__name__}: {e}"[:300])
                out = None
            dt = time.perf_counter() - t0
        if into is None:
            self.lat.append(dt)
            self.traced.append(traced if compare else None)
        else:
            into.append(dt)
        self.items += items
        self.ctx.proc.sample()
        return out, dt, info

    def usage(self) -> tuple[int, int, int]:
        """:func:`dir_usage` summed over this workload's warehouses."""
        tot = [0, 0, 0]
        for d in glob.glob(os.path.join(self.ctx.work, f"{self.name}-*")):
            tot = [a + b for a, b in zip(tot, dir_usage(d))]
        return tuple(tot)

    # interface -------------------------------------------------------------
    def setup(self) -> None:
        raise NotImplementedError

    def prepare_checks(self) -> None:
        """Build what the answer checks need during the run.  Called after
        set-up is timed and before the timed run, so it counts in neither."""

    def run(self, seconds: float) -> None:
        raise NotImplementedError

    def check(self) -> None:
        pass

    def throughput(self) -> float:
        """Work items completed per second of timed operation."""
        return self.items / sum(self.lat)

    def report(self) -> list[tuple[str, float, str]]:
        """The workload's own end-to-end figures, (name, value, unit)."""
        return []


# ------------------------------------------------------------------ bulk_build
class BulkBuild(Workload):
    name = "bulk_build"
    why = "fresh IndexBuilder.build of a code corpus: tokenizer, codec encode, build stages, catalog writes; no queries"
    kinds = {"build"}
    n_docs = 2000

    def setup(self):
        self.rows = self.gen.corpus(self.n_docs)
        self.src_bytes = sum(len(r["content"].encode()) for r in self.rows)
        # one small build pays the process's first-use costs (Python worker
        # start, JIT) before timing, as a long-running service would have
        self._build(self.rows[:200], "warmup")
        self.results: list[tuple[int, int]] = []  # (docs built, warehouse bytes)

    def run(self, seconds):
        t_end = time.perf_counter() + seconds
        i = 0
        while time.perf_counter() < t_end or i < 2:
            tag = f"b{i}"
            out, _, info = self._op("build", lambda: self._build(self.rows, tag),
                                    items=self.n_docs)
            if out is not None:
                cat, b, res = out
                self.catalog = cat
                self.results.append((res.n_docs, dir_usage(self._warehouse(tag))[0]))
                self._keep_stage_times(info, b)
            i += 1

    def check(self):
        for n, _ in self.results:
            if n != self.n_docs:
                self.failures.append(f"build: {n} docs, expected {self.n_docs}")
        if self.catalog is not None:
            bad = _check_index(self.spark, self.catalog)
            if bad:
                self.failures.append(bad)

    def report(self):
        b = [x[1] for x in self.results]
        return [("build_docs_per_s", self.throughput(), "1/s"),
                ("index_bytes_per_source_byte",
                 float(np.median(b)) / self.src_bytes if b else 0.0, "ratio")]


# ------------------------------------------------------------------ serve_zipf
class ServeZipf(Workload):
    name = "serve_zipf"
    why = "single queries on a warmed engine; Zipf terms repeat (postings-cache hits) or arrive cold; driver route, no kernel job"
    kinds = {"query"}
    n_docs = 2000
    n_checked = 16
    n_warmup = 10    # queries from their own stream, run before timing
    #: whole blocks a run holds at least: JIT and caches keep warming along
    #: a run.  The traced run holds a whole group of four (see ``run``).
    min_blocks = 3

    def setup(self):
        from lucene_plugin_spark.query.executor import SearchEngine
        self.rows = self.gen.corpus(self.n_docs)
        with self._request("setup_build") as info:
            self.catalog, b, _ = self._build(self.rows, "index")
        self._keep_stage_times(info, b)
        with self._request("setup_warm"):
            self.engine = SearchEngine(self.spark, self.catalog).warm()
        # a serving process is past its first queries: the driver path's
        # lazy set-up and JIT happen here, not in the timed queries
        for q, repo, k in self.gen.queries(self.n_warmup, stream=5):
            self._query(q, repo, k)
        self.stream = self.gen.query_stream(4000)
        #: (kind, (query, repo, k), answer)
        self.answers: list[tuple[str, tuple, list]] = []

    def _query(self, q, repo, k):
        df = self.engine.search(repo, q, limit=k)
        with self._span("collect", "query.executor"):
            rows = df.collect()
        return [(r["path"], r["score"]) for r in rows]

    def run(self, seconds):
        """Whole blocks of the query mix until ``seconds`` have passed, and
        at least ``min_blocks`` of them, so every run holds the same mix.

        The traced run traces whole blocks in the order traced, untraced,
        untraced, traced: every block holds the same mix, and the order
        cancels the warming along a run.  Only whole groups of four blocks
        enter the tracing-overhead comparison."""
        t_end = time.perf_counter() + seconds
        min_blocks = self.min_blocks if self.ctx.rec is None else max(self.min_blocks, 4)
        for i, (kind, q, repo, k) in enumerate(self.stream):
            if (i % BLOCK == 0 and i >= min_blocks * BLOCK
                    and time.perf_counter() >= t_end):
                break
            out, _, info = self._op("query", lambda: self._query(q, repo, k),
                                    traced=(i // BLOCK) % 4 in (0, 3))
            if info:
                info["query"] = [q, repo, k]
            if out is not None:
                self.answers.append((kind, (q, repo, k), out))
        whole = len(self.lat) // (4 * BLOCK) * 4 * BLOCK
        self.traced[whole:] = [None] * (len(self.traced) - whole)

    def check(self):
        """``n_checked`` seeded answers: one of each query shape, the rest
        drawn from all answers."""
        from lucene_plugin_spark.oracle import OracleEngine
        oracle = OracleEngine.from_rows(self.rows)
        rng = np.random.default_rng([self.gen.seed, 9])
        by_kind: dict[str, list[int]] = {}
        for i, (kind, _, _) in enumerate(self.answers):
            by_kind.setdefault(kind, []).append(i)
        pick = {int(rng.choice(ix)) for _, ix in sorted(by_kind.items())}
        rest = [i for i in range(len(self.answers)) if i not in pick]
        n = max(min(self.n_checked - len(pick), len(rest)), 0)
        pick |= {rest[j] for j in rng.choice(len(rest), size=n, replace=False)}
        for i in sorted(pick):
            _, (q, repo, k), got = self.answers[i]
            bad = rank_mismatch(got, oracle.search(repo, q, limit=1 << 30), k)
            if bad:
                self.failures.append(f"query {q!r} repo={repo} k={k}: {bad}")

    def report(self):
        return [("query_p50_ms", _pct(self.lat, 50) * 1e3, "ms"),
                ("query_p95_ms", _pct(self.lat, 95) * 1e3, "ms"),
                ("query_count", float(len(self.lat)), "count")]


# ---------------------------------------------------------------- batch_kernel
class BatchKernel(ServeZipf):
    name = "batch_kernel"
    why = "search_many batches of 64 distinct queries: always the distributed mapInPandas kernel and its Arrow transfer"
    kinds = {"batch"}
    batch = 64

    def _batch(self, qs):
        df = self.engine.search_many([(str(i), repo, q) for i, (q, repo, _) in enumerate(qs)],
                                     limit=10)
        with self._span("collect", "query.executor"):
            rows = df.collect()
        out = {str(i): [] for i in range(len(qs))}
        for r in sorted(rows, key=lambda r: (int(r["query_id"]), -r["score"], r["doc_id"])):
            out[r["query_id"]].append((r["path"], r["score"]))
        return [out[str(i)] for i in range(len(qs))]

    def run(self, seconds):
        kinds: dict[tuple, str] = {}
        for kind, q, repo, _ in self.stream:
            kinds.setdefault((q, repo), kind)
        distinct = list(kinds)
        t_end = time.perf_counter() + seconds
        i = 0
        while (time.perf_counter() < t_end or i < 2) and (i + 1) * self.batch <= len(distinct):
            qs = [(q, repo, 10) for q, repo in distinct[i * self.batch:(i + 1) * self.batch]]
            out, _, _ = self._op("batch", lambda: self._batch(qs), items=len(qs))
            if out is not None:
                self.answers += [(kinds[q[:2]], q, a) for q, a in zip(qs, out)]
            i += 1

    def report(self):
        return [("batch_queries_per_s", self.throughput(), "1/s"),
                ("batch_p50_ms", _pct(self.lat, 50) * 1e3, "ms")]


# ------------------------------------------------------------------- nrt_churn
class NrtChurn(Workload):
    name = "nrt_churn"
    why = "LuceneFacade write-beside-read: 16 writes, commit, cold-engine searches (kernel route); the traced run ends with a compaction"
    kinds = {"commit", "search", "compact"}
    #: the facade's first index.  Commit and search latency barely depend on
    #: it at this size; a larger one lengthens set-up and check_index, which
    #: the run budget cannot spare
    n_docs = 300
    searches = 10        # distinct searches after each commit

    def setup(self):
        from lucene_plugin_spark import LuceneFacade
        self.rows = self.gen.corpus(self.n_docs)
        self.fac = LuceneFacade(self.spark, self._warehouse("facade"))
        self.catalog = self.fac.catalog
        self.live: dict[tuple[str, str], str] = {}
        for r in self.rows:
            self.fac.index_text(r["repo"], r["path"], r["content"])
            self.live[(r["repo"], r["path"])] = r["content"]
        with self._request("setup_build") as info:
            self.fac.commit()  # the first commit is a full build
        self._keep_stage_times(info, self.fac.builder)
        self.rng = np.random.default_rng([self.gen.seed, 3])
        stream = self.gen.query_stream(4000, stream=4)
        #: the shape of each search in turn, in the stream's order, which is
        #: the same for every seed
        self.shapes = iter([kind for kind, *_ in stream])
        by_kind: dict[str, list] = {}
        for kind, q, repo, k in stream:
            by_kind.setdefault(kind, []).append((q, repo, k))
        self.by_kind = {kind: iter(qs) for kind, qs in by_kind.items()}
        self.seen_q: set = set()
        self.next_doc = self.n_docs
        self.commit_lat: list[float] = []
        self.compact_lat: list[float] = []
        self.answers: list[tuple[tuple, list, list]] = []

    def prepare_checks(self):
        """The oracle replays the corpus; it picks and checks the searches."""
        from lucene_plugin_spark.oracle import OracleEngine
        self.oracle = OracleEngine()
        for r in self.rows:
            self.oracle.index_doc(r["repo"], r["path"], {"text": r["content"]})

    def _writes(self):
        """16 seeded writes, as the reference's soft-commit threshold: 8 new
        keys, 4 overwrites and 4 deletes of live keys."""
        keys = sorted(self.live)
        pick = self.rng.choice(len(keys), size=8, replace=False)
        ups = {keys[j]: self.gen.content(self.rng) for j in pick[:4]}
        dels = {keys[j] for j in pick[4:]}
        for _ in range(8):
            d = self.gen.doc(self.rng, self.next_doc, prefix="nrt")
            self.next_doc += 1
            ups[(d["repo"], d["path"])] = d["content"]
        return ups, dels

    def _apply(self, ups, dels):
        for (repo, path), text in ups.items():
            self.fac.index_text(repo, path, text)
        for repo, path in dels:
            self.fac.delete(repo, path)
        self.fac.commit()

    def _next_query(self):
        """A query of the next shape in turn: the first of that shape in the
        stream not yet asked that matches at least one live document of its
        collection (the facade always searches one collection; unscoped
        stream queries go round the collections).  Returns it with the
        oracle's full answer.  Picking only matching queries keeps every
        search on the kernel route: a query whose terms are absent compiles
        to nothing and never reaches the kernel.  Picking by shape keeps the
        mix of shapes a run searches the same for every seed."""
        for q, repo, k in self.by_kind[next(self.shapes)]:
            key = (q, repo or f"repo{len(self.seen_q) % N_REPOS:02d}", k)
            if key in self.seen_q:
                continue
            self.seen_q.add(key)
            want = self.oracle.search(key[1], q, limit=1 << 30)
            if want:
                return key, want
        raise RuntimeError("query stream exhausted")

    def _cycle(self):
        ups, dels = self._writes()
        self._op("commit", lambda: self._apply(ups, dels), items=len(ups) + len(dels),
                 into=self.commit_lat)
        for (repo, path), text in ups.items():
            self.oracle.index_doc(repo, path, {"text": text})
            self.live[(repo, path)] = text
        for key in dels:
            self.oracle.delete(*key)
            del self.live[key]
        for s in range(self.searches):
            (q, repo, k), want = self._next_query()
            # the first search after a commit, on a cold engine, is always
            # traced for facade.first_search_ms and is left out of the
            # tracing-overhead comparison; the rest alternate
            res, _, info = self._op(
                "search", lambda: [(e.external_id, e.score)
                                   for e in self.fac.search(repo, q, limit=k)],
                items=0, traced=s % 2 == 0, compare=s > 0)
            if info:
                info["first_after_commit"] = s == 0
                info["query"] = [q, repo, k]
            if res is not None:
                # checked later against the oracle's state at this commit
                self.answers.append(((q, repo, k), res, want))
        bad = self._read_your_writes(ups, dels)
        if bad:
            self.failures.append("read-your-writes: " + "; ".join(bad[:5]))

    def _read_your_writes(self, ups, dels) -> list[str]:
        """Outside the timed region: every upserted key has exactly its
        latest content and one live docID; deleted keys have neither."""
        import pyspark.sql.functions as F
        key = F.concat_ws("\u0000", "repo", "path")
        names = ["\u0000".join(k) for k in set(ups) | dels]
        got: dict[tuple, list] = {}
        for r in (self.catalog.table("docs").read(self.spark)
                  .where(key.isin(names)).select("repo", "path", "content").collect()):
            got.setdefault((r["repo"], r["path"]), []).append(r["content"])
        meta = self.catalog.table("docs_meta").read(self.spark).where(key.isin(names))
        tomb = self.catalog.table("tombstones")
        if tomb.exists():
            meta = meta.join(tomb.read(self.spark).select("doc_id"), "doc_id", "left_anti")
        live: dict[tuple, int] = {}
        for r in meta.select("repo", "path").collect():
            live[(r["repo"], r["path"])] = live.get((r["repo"], r["path"]), 0) + 1
        bad = [f"{k}: content ok={got.get(k) == [text]}, live docs={live.get(k, 0)}"
               for k, text in ups.items() if got.get(k) != [text] or live.get(k) != 1]
        return bad + [f"deleted {k} still present" for k in dels if k in got or k in live]

    def _compact(self):
        from lucene_plugin_spark.index.mutations import IndexMutator
        mut = IndexMutator(self.spark, self.catalog, self.fac.builder)
        self._op("compact", mut.compact, items=0, into=self.compact_lat)

    def run(self, seconds):
        """Whole cycles until ``seconds`` have passed.  The traced run then
        compacts once, for ``mutations.compact_ms``; the end-to-end run
        does not, as a compaction does not fit its time budget."""
        t_end = time.perf_counter() + seconds
        while True:
            self._cycle()
            if time.perf_counter() >= t_end:
                break
        if self.ctx.rec is not None:
            self._compact()

    def check(self):
        for (q, repo, k), got, want in self.answers:
            bad = rank_mismatch(got, want, k)
            if bad:
                self.failures.append(f"search {q!r} in {repo} k={k}: {bad}")
        bad = _check_index(self.spark, self.catalog)
        if bad:
            self.failures.append(bad)

    def throughput(self):
        """Writes made visible per second of commit time."""
        return self.items / sum(self.commit_lat)

    def report(self):
        out = [("commit_p50_ms", _pct(self.commit_lat, 50) * 1e3, "ms"),
               ("nrt_search_p50_ms", _pct(self.lat, 50) * 1e3, "ms"),
               ("nrt_search_p90_ms", _pct(self.lat, 90) * 1e3, "ms")]
        if self.compact_lat:
            out.append(("compact_p50_ms", _pct(self.compact_lat, 50) * 1e3, "ms"))
        return out


WORKLOADS = {w.name: w for w in (BulkBuild, ServeZipf, BatchKernel, NrtChurn)}
