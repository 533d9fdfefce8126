"""The two benchmark workloads.

Both follow the same shape, in one fresh process per run:

1. inputs are generated from the seed (`corpus.CorpusGen`);
2. set-up runs `SETUP_REPS` times and `setup_s` is the median repetition;
   the first repetition is the cold first pass and is reported beside it;
3. the code paths the timed window uses run once untimed first;
4. the timed window runs whole cycles of fixed work, closed loop on one
   thread (each call starts when the previous one returned), until the
   window's seconds are used up, and every timing is aggregated over the
   cycles; a block of queries during which other tenants of the host stole
   more than `STEAL_MAX` of its CPU time runs once more, on fresh queries,
   and the samples of the less contended run are kept;
5. correctness checks run outside the timed window; each failure counts.

`search-zipf` is the read path: set-up is refine -> MinHash dedup -> index
build -> open, then untimed warm-up cycles; the window is single queries
of four shapes with `search_many` batches between them. `ingest-mutate` is
writes beside reads on one streaming index: set-up ingests the base
micro-batch; a cycle is an upsert micro-batch -> compact -> delete_by_query
-> searches with live tombstones -> expunge_deletes.
"""

from __future__ import annotations

import gc
import glob
import itertools
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import pandas as pd

from corpus import PAGE_SCHEMA, CorpusGen, Pages, planted_recall_precision
from trace import Recorder, host_cpu_ticks

SETUP_REPS = 3
BATCH_QUERIES = 16  # queries per search_many call
WARMUP_CYCLES = 2  # search-zipf: untimed query cycles before the window
# Host CPU share stolen by other tenants above which a block of timed
# queries runs once more. On a 4-core shared host, runs whose steal share
# was 4-6% took up to 2x longer in every timing; undisturbed runs read
# under 1.2%.
STEAL_MAX = 0.03
PLANTED_RECALL_MIN = 0.9
ZIPF_PAGES = 500  # search-zipf corpus, before re-crawls and planted twins
BASE_PAGES, BATCH_PAGES = 200, 100  # ingest-mutate base and upsert micro-batches
TOMBSTONE_SEARCHES = 12  # single searches per ingest-mutate cycle
TOMBSTONE_BATCHES = 6  # search_many calls per ingest-mutate cycle, one per 2 singles
MAX_CYCLES = 2  # ingest-mutate: upsert batches generated beyond the base


@dataclass
class Outcome:
    """What one workload run measured and checked."""

    setup_s: list[float] = field(default_factory=list)
    warmup_s: float | None = None
    query_ms: list[float] = field(default_factory=list)
    batch_s: list[float] = field(default_factory=list)
    batch_qps: list[float] = field(default_factory=list)  # per search_many call
    cycle_s: list[float] = field(default_factory=list)
    cycles_run: int = 0  # timed cycles, kept or not
    index_bytes: int = 0
    text_bytes: int = 0
    attempted: int = 0
    failed: int = 0
    checks: dict[str, bool] = field(default_factory=dict)
    info: dict = field(default_factory=dict)

    def add_batch(self, n_queries: int, wall_s: float) -> None:
        self.batch_s.append(wall_s)
        self.batch_qps.append(n_queries / wall_s)

    def add_samples(self, other: "Outcome") -> None:
        """Add the timing samples of `other`."""
        self.query_ms += other.query_ms
        self.batch_s += other.batch_s
        self.batch_qps += other.batch_qps
        self.cycle_s += other.cycle_s

    def check(self, name: str, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1
        self.checks[name] = self.checks.get(name, True) and bool(ok)


def dir_bytes(root: str, sub: str | None = None) -> tuple[int, int]:
    """(bytes, files) of the data files under root[/sub], skipping Spark's
    checksum and marker files."""
    total = files = 0
    for dirpath, _, names in os.walk(os.path.join(root, sub) if sub else root):
        for n in names:
            if n.endswith(".crc") or n.startswith("_"):
                continue
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


def index_bytes(root: str) -> dict[str, int]:
    """On-disk bytes per index table, their sum, and the file count."""
    out = {"files": 0, "bytes": 0}
    for sub in ("postings", "term_dict", "doc_stats"):
        b, n = dir_bytes(root, sub)
        out[f"{sub}_bytes"] = b
        out["bytes"] += b
        out["files"] += n
    return out


def settle(spark) -> None:
    """Collect garbage in the Spark driver JVM and in Python, so set-up's
    garbage is not collected inside the timed window."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


class Context:
    """Per-run handles: Spark session, recorder, scratch dir, seed, budget."""

    def __init__(self, spark, rec: Recorder, work: str, seed: int, seconds: float):
        self.spark = spark
        self.rec = rec
        self.work = work
        self.seed = seed
        self.seconds = seconds

    def timed_cycles(self, out: Outcome, cycle, max_cycles: int = 10**6) -> None:
        """Run `cycle(i)` closed loop until the window's seconds are used up.
        A window ends after the cycle that crosses its length, so a slow
        host still gets whole cycles and at least one."""
        t0 = time.perf_counter()
        with self.rec.window("timed"):
            for i in range(max_cycles):
                cycle(i)
                out.cycles_run += 1
                if time.perf_counter() - t0 >= self.seconds:
                    break

    @staticmethod
    def less_contended(out: Outcome, block) -> Outcome:
        """Run `block(sink)`, which puts its timing samples in `sink`, and
        return that sink. If other tenants of the host stole more than
        STEAL_MAX of its CPU time meanwhile, `block` runs once more and the
        sink of the less contended run is returned; the report lists the
        steal share of every run."""
        runs: list[tuple[float, Outcome]] = []
        while len(runs) < 2:
            sink = Outcome()
            s0, n0 = host_cpu_ticks()
            block(sink)
            s1, n1 = host_cpu_ticks()
            runs.append(((s1 - s0) / (n1 - n0) if n1 > n0 else 0.0, sink))
            if runs[-1][0] <= STEAL_MAX:
                break
        out.info.setdefault("steal_shares", []).append([s for s, _ in runs])
        return min(runs, key=lambda r: r[0])[1]


# ---------------------------------------------------------------------------
# search-zipf


def _query(ctx: Context, idx, phase: str, fn) -> tuple[float, list]:
    """One single-query call: plan (the engine call that returns the lazy
    top-k frame, including the term-dict seek) + exec (the collect)."""
    t0 = time.perf_counter()
    df = ctx.rec.call(phase, "searcher.plan", fn)
    rows = ctx.rec.call(phase, "searcher.exec", lambda: _rows(df))
    return time.perf_counter() - t0, rows


def search_zipf(ctx: Context) -> Outcome:
    from engine.boolquery import Bool, Term
    from engine.dedup import minhash_lsh_candidates
    from engine.index import build_index
    from engine.refine import refine_pages
    from engine.searcher import LoadedIndex

    spark, rec, out = ctx.spark, ctx.rec, Outcome()
    gen = CorpusGen(ctx.seed)
    pages = gen.pages(ZIPF_PAGES, "a")
    singles = gen.query_strings(60)
    trees = gen.trees(20)
    batches = [dict((f"q{j}", q) for j, (_, q) in enumerate(gen.query_strings(BATCH_QUERIES)))
               for _ in range(24)]
    stats = pages.stats()
    out.info["corpus"] = stats
    out.text_bytes = stats["text_bytes"]
    pages_df = rec.call("input", "bench.load", lambda: spark.createDataFrame(pages.frame, PAGE_SCHEMA).cache())
    rec.call("input", "bench.load", pages_df.count)

    idx = docs = None
    steps: dict[str, list[float]] = {"refine": [], "dedup": [], "build": []}
    for rep in range(SETUP_REPS):
        phase = "cold" if rep == 0 else "setup"
        root = os.path.join(ctx.work, f"index{rep}")
        t0 = time.perf_counter()
        if docs is not None:
            docs.unpersist()
        docs = refine_pages(pages_df).cache()
        n_refined = rec.call(phase, "refine.refine_pages", docs.count)
        cands = rec.call(
            phase, "dedup.minhash_lsh_candidates",
            lambda: _rows(minhash_lsh_candidates(docs)),
        )
        manifest = rec.call(phase, "index.build_index", lambda: build_index(spark, docs, root, n_buckets=4))
        idx = rec.call(phase, "searcher.open", lambda: LoadedIndex(spark, root))
        out.setup_s.append(time.perf_counter() - t0)
        for key, layer in (("refine", "refine.refine_pages"), ("dedup", "dedup.minhash_lsh_candidates"),
                           ("build", "index.build_index")):
            steps[key].append(rec.walls(phase, layer)[-1])
        out.check("manifest_n_docs_equals_refined_rows", manifest.n_docs == n_refined == stats["docs"])
        if rep:
            shutil.rmtree(os.path.join(ctx.work, f"index{rep - 1}"))

    # dedup ground truth (the last repetition's candidates)
    meta = docs.select("doc_id", "url").toPandas()
    url_of = dict(zip(meta["doc_id"], meta["url"]))
    live = pages.latest()
    text_by_url = dict(zip(live["url"], live["text"]))  # == refined text by construction
    text_of = {d: text_by_url[u] for d, u in url_of.items()}
    recall, precision = planted_recall_precision(pages.planted, url_of, text_of, cands)
    out.check("planted_recall_at_least_bound", recall >= PLANTED_RECALL_MIN)
    out.info["dedup"] = {"planted_recall": recall, "candidate_precision": precision,
                         "candidates": len(cands), "recall_bound": PLANTED_RECALL_MIN}
    sizes = index_bytes(idx.root)
    out.index_bytes = sizes["bytes"]
    postings = int(idx.term_dict.agg({"df": "sum"}).collect()[0][0])
    out.info["index"] = dict(sizes, postings=postings)
    warm = slice(1, None)
    out.info["batch_path"] = {
        "refine_pages_per_s": len(pages.frame) / statistics.median(steps["refine"][warm]),
        "dedup_docs_per_s": stats["docs"] / statistics.median(steps["dedup"][warm]),
        "build_docs_per_s": stats["docs"] / statistics.median(steps["build"][warm]),
    }

    docs.unpersist()
    pages_df.unpersist()
    seen: dict[int, list] = {}  # single-query index -> rows (for checks)

    def cycle(i: int, sink: Outcome, phase: str = "timed") -> None:
        """OR, AND, batch, must-not, tree, batch: every shape once and a
        batch after every two singles, so batches sample the whole window."""
        t_cycle = 0.0

        def batch(k: int) -> float:
            b = batches[(i * 2 + k) % len(batches)]
            dt_, _ = _query(ctx, idx, phase, lambda: idx.search_many(b, k=10))
            sink.add_batch(len(b), dt_)
            return dt_

        for j in range(3):  # one OR, one AND, one must-not
            n = (i * 3 + j) % len(singles)
            mode, q = singles[n]
            dt_, rows = _query(ctx, idx, phase, lambda: idx.search(q, k=10, mode=mode))
            sink.query_ms.append(dt_ * 1000)
            if phase == "timed":
                seen.setdefault(n, rows)
            t_cycle += dt_
            if j == 1:
                t_cycle += batch(0)
        tree = trees[i % len(trees)]
        dt_, _ = _query(ctx, idx, phase, lambda: idx.search_tree(tree, k=10))
        sink.query_ms.append(dt_ * 1000)
        sink.cycle_s.append(t_cycle + dt_ + batch(1))

    # untimed warm-up: the query path keeps speeding up over its first
    # ~100 queries, so whole cycles on other queries run before the window
    settle(spark)
    t0 = time.perf_counter()
    for w in range(WARMUP_CYCLES):
        cycle(len(singles) // 3 - WARMUP_CYCLES + w, Outcome(), "warmup")
    out.warmup_s = time.perf_counter() - t0
    fresh = itertools.count()  # a re-run window runs queries not yet sent
    out.add_samples(ctx.less_contended(
        out, lambda sink: ctx.timed_cycles(out, lambda _: cycle(next(fresh), sink))))

    # -- correctness, outside the window ------------------------------------
    sample = sorted(seen)[:: max(1, len(seen) // 2)][:2]
    for n in sample:
        mode, q = singles[n]
        exact = _rows(idx.search(q, k=10, mode=mode, algo="exhaustive"))
        out.check("wand_matches_exhaustive", seen[n] == exact)
    out.check("wand_check_has_hits", any(seen[n] for n in sample))
    a, b = str(singles[0][1].split()[0]), str(singles[0][1].split()[1])
    tree_rows = _rows(idx.search_tree(Bool(should=(Term(a), Term(b))), k=10))
    out.check("search_tree_matches_search", tree_rows == _rows(idx.search(f"{a} {b}", k=10)))
    many = _rows(idx.search_many(batches[0], k=10))
    for qid in list(batches[0])[:1]:
        got = [(d, s) for (q, d, s) in many if q == qid]
        out.check("search_many_matches_search", got == _rows(idx.search(batches[0][qid], k=10)))
    return out


# ---------------------------------------------------------------------------
# ingest-mutate


def ingest_mutate(ctx: Context) -> Outcome:
    from engine import mutate
    from engine.index import IndexManifest
    from engine.searcher import LoadedIndex
    from engine.streaming import IncrementalIndexer

    spark, rec, out = ctx.spark, ctx.rec, Outcome()
    gen = CorpusGen(ctx.seed)
    base = gen.pages(BASE_PAGES, "b0", near_dup=0.0).frame
    frames = [base]
    for b in range(1, MAX_CYCLES + 1):
        frames.append(gen.upsert_batch(BATCH_PAGES, f"b{b}", frames, day=b))
    # two search blocks per cycle at most: one more when the first is contended
    singles = gen.query_strings(TOMBSTONE_SEARCHES * 2 * MAX_CYCLES)
    batches = [dict((f"q{j}", q) for j, (_, q) in enumerate(gen.query_strings(BATCH_QUERIES)))
               for _ in range(TOMBSTONE_BATCHES * 2 * MAX_CYCLES)]
    blocks = itertools.count()
    delete_terms = [gen.vocab[int(gen.rng.integers(150, 300))] for _ in range(MAX_CYCLES + 1)]
    out.info["corpus"] = Pages(pd.concat(frames, ignore_index=True)).stats()
    # local relations: deterministic across actions, nothing to cache
    inputs = [spark.createDataFrame(f, PAGE_SCHEMA) for f in frames]

    for rep in range(SETUP_REPS):
        phase = "cold" if rep == 0 else "setup"
        root = os.path.join(ctx.work, f"stream{rep}")
        t0 = time.perf_counter()
        indexer = IncrementalIndexer(root, n_buckets=4)
        rec.call(phase, "streaming.process_batch", lambda: indexer.process_batch(inputs[0], 0))
        out.setup_s.append(time.perf_counter() - t0)
        if rep:
            shutil.rmtree(os.path.join(ctx.work, f"stream{rep - 1}"))

    steps: dict[str, list[float]] = {k: [] for k in ("ingest", "compact", "delete", "expunge")}
    steps.update(rows=[], files=[])

    def cycle(i: int) -> None:
        """Upsert batch b -> compact -> delete -> searches -> expunge."""
        b = i + 1
        walls = []

        def step(layer, fn):
            r = rec.call("timed", layer, fn)
            walls.append(rec.calls[-1].wall_s)
            return r

        step("streaming.process_batch", lambda: indexer.process_batch(inputs[b], b))
        steps["ingest"].append(walls[-1])
        steps["rows"].append(len(frames[b]))
        steps["files"].append(
            sum(dir_bytes(d)[1] for d in glob.glob(os.path.join(indexer.root, "*", f"batch={b}")))
        )
        compacted = step("streaming.compact", lambda: indexer.compact(spark))
        steps["compact"].append(walls[-1])
        idx = step("searcher.open", lambda: LoadedIndex(spark, compacted))
        n_before = idx.manifest.n_docs
        live = pd_live(frames[: b + 1])
        out.check("compact_n_docs_equals_live_urls", n_before == len(live))
        if i == 0:  # sizes of the first compaction, however many cycles run
            sizes = index_bytes(compacted)
            out.index_bytes = sizes["bytes"]
            out.text_bytes = int(live["text"].str.len().sum())
            postings = rec.call("timed", "bench.check", lambda: idx.term_dict.agg({"df": "sum"}).collect())
            out.info["index"] = dict(sizes, postings=int(postings[0][0]))
        n_del = step("mutate.delete_by_query", lambda: mutate.delete_by_query(idx, delete_terms[b]))
        steps["delete"].append(walls[-1])
        dead = {r[0] for r in rec.call("timed", "bench.check",
                                       lambda: mutate.load_tombstones(spark, compacted).collect())}
        out.check("delete_by_query_deleted_docs", n_del > 0 and len(dead) >= n_del)
        hits = set()
        per_batch = TOMBSTONE_SEARCHES // TOMBSTONE_BATCHES

        def searches(sink: Outcome) -> None:
            """Singles with a batch after every two, on queries not yet
            sent; interleaved, so a burst of host load lands on both kinds
            of sample rather than on one short run of batches."""
            k = next(blocks)
            for j in range(TOMBSTONE_SEARCHES):
                mode, q = singles[k * TOMBSTONE_SEARCHES + j]
                dt_, rows = _query(ctx, idx, "timed", lambda: idx.search(q, k=10, mode=mode))
                hits.update(r[0] for r in rows)
                sink.query_ms.append(dt_ * 1000)
                if (j + 1) % per_batch == 0:
                    batch = batches[k * TOMBSTONE_BATCHES + j // per_batch]
                    dt_, rows = _query(ctx, idx, "timed", lambda: idx.search_many(batch, k=10))
                    hits.update(r[1] for r in rows)
                    sink.add_batch(len(batch), dt_)

        kept = ctx.less_contended(out, searches)
        out.add_samples(kept)
        walls.append(sum(kept.query_ms) / 1000 + sum(kept.batch_s))
        out.check("no_tombstoned_doc_in_hits", not (hits & dead))
        step("mutate.expunge_deletes", lambda: mutate.expunge_deletes(spark, compacted))
        steps["expunge"].append(walls[-1])
        n_after = IndexManifest.load(compacted).n_docs
        out.check("expunge_drops_exactly_deleted", n_before - n_after == n_del)
        out.cycle_s.append(sum(walls))

    # the set-up repetitions already ran the ingest path three times; a
    # separate warm-up cycle does not fit the run budget and measured no
    # colder than the cycle after it (NOTES.md), so the first cycle is timed
    settle(spark)
    ctx.timed_cycles(out, cycle, max_cycles=MAX_CYCLES)
    out.info["write_path"] = {
        "ingest_docs_per_s": sum(steps["rows"]) / sum(steps["ingest"]),
        "compact_s": statistics.median(steps["compact"]),
        "delete_s": statistics.median(steps["delete"]),
        "expunge_s": statistics.median(steps["expunge"]),
        "cycles": len(steps["compact"]),
        "batch_files_written": statistics.median(steps["files"]),
    }
    return out


def pd_live(frames):
    """Latest crawl per url over the batches ingested so far."""
    return Pages(pd.concat(frames, ignore_index=True)).latest()


WORKLOADS = {"search-zipf": search_zipf, "ingest-mutate": ingest_mutate}
