"""The benchmark's workloads: inputs from the seed, the timed loop, and the
check of every timed operation's output.

Both workloads are closed loops with one client in one `local[nproc]`
process: the next operation starts only after the previous one returned.
`--seconds` fixes the amount of work, not a deadline: one crawl per
CRAWL_SECONDS, one seen_probe round per ROUND_SECONDS (at least one crawl
and two rounds), which is about how long they take on 4 cores. A fixed
count keeps the median comparable between runs and between programs: a
deadline would let a faster run add warmer rounds and pull its own median
down further.

- bulk_crawl: `CrawlEngine.bootstrap(seeds)` then `step()` with
  `epoch_seconds=1e7`, so politeness never binds: each epoch pays the
  fixed per-epoch cost (Spark jobs, checkpoint writes and reads) plus
  per-page work (fetch replay, parse, record/document writes, admission of
  mostly fresh URLs). Each crawl is bootstrap plus CRAWL_STEPS drain
  epochs in a fresh workdir and segment store.
- seen_probe: the admission half of an epoch at a seen-set size the
  100k-document crawl cannot reach: read the committed seen state, robots
  gate, `dedup.dedup_candidates`, write `seen_exact` and the `seen_state`
  delta, commit. Half the candidates are already seen. Rounds repeat on
  the same committed state; each round's new segment files and epoch dirs
  are deleted outside the timed region, so every round pays the write.
  The first round pays the probe path's one-time JIT and Python-worker
  cost, so the median of a run's rounds sits between cold and warm.
"""

from __future__ import annotations

import os
import random
import shutil
import time
import traceback
from dataclasses import dataclass, field

# bulk_crawl size: ~2.2k pages in the drain epoch, ~3.8k seen URLs after it
CRAWL_SEEDS = 200
CRAWL_STEPS = 1
CRAWL_EPOCH_SECONDS = 1e7
CRAWL_SECONDS = 20
# seen_probe size: seen-set URLs, candidates per round (half already seen)
PROBE_SEEN = 400_000
PROBE_CANDIDATES = 400_000
ROUND_SECONDS = 10
# checksum modulus for admitted url_ids (keeps Spark's sum inside a long)
CHECKSUM_MOD = (1 << 31) - 1
# URLs replayed in-process through the fetch/parse kernels (traced run)
REPLAY_PAGES = 4000


@dataclass
class Op:
    """One timed operation: a bootstrap/build or a drain step/round."""

    kind: str  # "bootstrap" or "drain"
    seconds: float
    urls: int = 0  # pages fetched+parsed (crawl) or candidates resolved (probe)
    ok: bool = True
    error: str = ""
    info: dict = field(default_factory=dict)


@dataclass
class Result:
    ops: list[Op] = field(default_factory=list)
    batches_s: list[float] = field(default_factory=list)
    # URLs for the in-process fetch/parse replay: the crawl's granted URLs,
    # or a slice of the probe's candidates
    replay_urls: list[str] = field(default_factory=list)


def _fresh_dir(root: str, name: str) -> str:
    path = os.path.join(root, name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _segment_files(seg_root: str) -> dict[str, int]:
    try:
        return {
            e.name: e.stat().st_size for e in os.scandir(seg_root) if e.name.endswith(".seg")
        }
    except FileNotFoundError:
        return {}


def _tree_bytes(path: str, skip: str | None = None) -> int:
    total = 0
    for dirpath, dirnames, filenames in os.walk(path):
        if skip is not None and skip in dirnames:
            dirnames.remove(skip)
        for f in filenames:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except FileNotFoundError:
                pass
    return total


def _collect_garbage(spark) -> None:
    """Full JVM GC before a timed batch, so each starts from a comparable
    heap rather than inheriting the previous batch's garbage."""
    spark.sparkContext._jvm.System.gc()


# ------------------------------------------------------------ bulk_crawl
def crawl_seeds(seed: int, crawl_no: int) -> list[int]:
    return sorted(random.Random(f"bulk_crawl/{seed}/{crawl_no}").sample(range(1, 10**6), CRAWL_SEEDS))


def run_bulk_crawl(spark, tracer, work: str, seed: int, seconds: float) -> Result:
    from gsccca_tax_records_scraper_spark.plans.epoch import CrawlEngine

    res = Result()
    for crawl_no in range(max(1, int(seconds // CRAWL_SECONDS))):
        seeds = crawl_seeds(seed, crawl_no)
        wd = _fresh_dir(work, f"crawl{crawl_no}")
        seg_root = os.path.join(wd, "segments")
        ops: list[Op] = []
        _collect_garbage(spark)
        t0 = time.perf_counter()
        try:
            eng = CrawlEngine(spark, wd, epoch_seconds=CRAWL_EPOCH_SECONDS)
            with tracer.span("op.bootstrap") as sp:
                eng.bootstrap(seeds)
            ops.append(Op("bootstrap", time.perf_counter() - t0, info={"epoch": 0, "span": sp}))
            for _ in range(CRAWL_STEPS):
                seg0, disk0 = _segment_files(seg_root), _tree_bytes(wd, skip="segments")
                t = time.perf_counter()
                with tracer.span("op.drain") as sp:
                    m = eng.step()
                dt = time.perf_counter() - t
                if m is None:
                    break
                seg1 = _segment_files(seg_root)
                fresh = set(seg1) - set(seg0)
                ops.append(Op("drain", dt, urls=m["granted"], info={
                    "epoch": m["epoch"], "admitted": m["new_urls"], "span": sp,
                    "seg_files": len(fresh), "seg_bytes": sum(seg1[f] for f in fresh),
                    "ckpt_bytes": _tree_bytes(wd, skip="segments") - disk0,
                    "live_segments": len(seg1),
                }))
            res.batches_s.append(time.perf_counter() - t0)
        except Exception as e:  # a raising operation is a failed operation
            traceback.print_exc()
            ops.append(Op("drain" if ops else "bootstrap", time.perf_counter() - t0,
                          ok=False, error=f"{type(e).__name__}: {e}"))
            res.ops += ops
            return res
        verify_crawl(eng, seeds, ops, res)
        res.ops += ops
    return res


def verify_crawl(eng, seeds: list[int], ops: list[Op], res: Result) -> None:
    """Check each timed operation against `simulator.simulate_crawl`:
    epoch e's admitted URL set (bootstrap = epoch 0), and for drain epochs
    the grant order and every document's span sequence."""
    from gsccca_tax_records_scraper_spark import simulator

    n_steps = sum(op.kind == "drain" for op in ops)
    sim = simulator.simulate_crawl(seeds, CRAWL_EPOCH_SECONDS, max_epochs=n_steps)
    sim_seen: dict[int, set[str]] = {}
    for r in sim.frontier:
        sim_seen.setdefault(r["lineage"]["discovered_epoch"], set()).add(r["url"])
    seen: dict[int, set[str]] = {}
    for r in eng.seen().select("url", "epoch").collect():
        seen.setdefault(r["epoch"], set()).add(r["url"])
    records = eng.records()
    rec_rows = records.select("url", "url_id", "epoch", "crawl_order").collect() if records else []
    granted: dict[int, list] = {}
    for r in rec_rows:
        granted.setdefault(r["epoch"], []).append(r)
    docs = eng.documents()
    spans = {
        d["url"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]]
        for d in (docs.select("url", "spans").collect() if docs else [])
    }
    epoch_of = {r["url"]: r["epoch"] for r in rec_rows}
    for op in ops:
        e = op.info["epoch"]
        problems = []
        if seen.get(e, set()) != sim_seen.get(e, set()):
            problems.append("seen set")
        if e > 0:
            order = sorted(
                granted.get(e, []),
                key=lambda r: (r["crawl_order"]["depth"], r["crawl_order"]["seed_id"],
                               r["crawl_order"]["page"], r["crawl_order"]["link_order"],
                               r["url_id"]),
            )
            if [r["url"] for r in order] != sim.grant_order[e - 1]:
                problems.append("grant order")
            want = {u for u in sim.grant_order[e - 1] if u in sim.spans}
            got = {u for u, ep in epoch_of.items() if ep == e and u in spans}
            if got != want or any(spans[u] != sim.spans[u] for u in got):
                problems.append("spans")
            res.replay_urls += [r["url"] for r in order]
        if problems:
            op.ok, op.error = False, f"epoch {e}: " + ", ".join(problems) + " differ from simulator"


# ------------------------------------------------------------ seen_probe
def probe_base(seed: int) -> int:
    """First doc id of the run's seen range; the seed picks the range."""
    return random.Random(f"seen_probe/{seed}").randrange(10**6, 10**9)


def probe_frame(spark, lo: int, n: int):
    """FRONTIER-shaped candidate rows for doc ids [lo, lo+n), built
    JVM-side; each URL is exactly `sitegen.doc_url(id)`."""
    from pyspark.sql import functions as F

    from gsccca_tax_records_scraper_spark import sitegen
    from gsccca_tax_records_scraper_spark.functions import urltools

    host = F.when(F.col("id") % 23 == 0, F.lit(sitegen.ALT_HOST)).otherwise(F.lit(sitegen.HOT_HOST))
    url = F.format_string(
        "https://%s/Lien/liendetails.asp?county=%d&book=%d&page=%d&id=%d",
        host,
        F.col("id") % sitegen.COUNTY_MOD + 1,
        F.expr("id div 1000 + 1"),
        F.col("id") % 997 + 1,
        F.col("id"),
    )
    uid = urltools.url_id_col(F.col("url"))
    return (
        spark.range(lo, lo + n)
        .select("id", host.alias("host"), url.alias("url"))
        .select(
            uid.alias("url_id"), "url", "host",
            urltools.host_bucket_col(uid).alias("host_bucket"),
            F.lit(1.0).alias("priority"),
            F.struct(
                (F.col("id") % 1000).alias("seed_id"),
                F.lit(1).alias("page"),
                (F.col("id") % 100).cast("int").alias("link_order"),
                F.lit(1).alias("depth"),
            ).alias("crawl_order"),
            F.lit("").alias("status"),
            F.struct(
                F.lit(None).cast("long").alias("parent_url_id"),
                (F.col("id") % 1000).alias("seed_id"),
                F.lit(1).alias("depth"),
                F.lit(0).alias("discovered_epoch"),
            ).alias("lineage"),
        )
    )


def expected_admission(lo: int, n: int) -> tuple[int, int]:
    """Ground truth for admitting doc ids [lo, lo+n) into a set that holds
    none of them: (count, checksum of url_id mod CHECKSUM_MOD)."""
    from gsccca_tax_records_scraper_spark import sitegen
    from gsccca_tax_records_scraper_spark.functions import urltools

    ck = 0
    for i in range(lo, lo + n):
        ck += urltools.url_id(sitegen.doc_url(i)) % CHECKSUM_MOD
    return n, ck


def _admit_and_write(store, new_rows, state, epoch: int):
    """The engine's admission tail: one action for the admitted count and
    checksum, then the seen_exact and seen_state delta writes and commit."""
    from pyspark.sql import functions as F

    row = new_rows.agg(
        F.count("*").alias("n"),
        F.sum(F.col("url_id") % F.lit(CHECKSUM_MOD)).alias("ck"),
    ).first()
    store.write(
        "seen_exact", epoch,
        new_rows.select("host_bucket", "url_id", "url", F.lit(epoch).alias("epoch")),
    )
    store.write("seen_state", epoch, state.filter(F.col("epoch") == epoch))
    store.commit(epoch)
    return int(row["n"]), int(row["ck"] or 0)


def run_seen_probe(spark, tracer, work: str, seed: int, seconds: float) -> Result:
    from gsccca_tax_records_scraper_spark import sitegen
    from gsccca_tax_records_scraper_spark.operators import dedup, politeness
    from gsccca_tax_records_scraper_spark.plans.epoch import CrawlEngine

    res = Result()
    base = probe_base(seed)
    wd = _fresh_dir(work, "probe")
    seg_root = os.path.join(wd, "segments")
    eng = CrawlEngine(spark, wd)  # only for its store and robots frame
    store = eng.store
    new_lo = base + PROBE_SEEN
    cand_lo = new_lo - PROBE_CANDIDATES // 2
    res.replay_urls = [sitegen.doc_url(i) for i in range(cand_lo, cand_lo + REPLAY_PAGES)]

    _collect_garbage(spark)
    t_start = time.perf_counter()
    try:
        with tracer.span("op.bootstrap") as sp:
            new0, state0, handles = dedup.dedup_candidates(
                probe_frame(spark, base, PROBE_SEEN), None, 0, store_root=seg_root
            )
            got0 = _admit_and_write(store, new0, state0, 0)
        res.ops.append(Op("bootstrap", time.perf_counter() - t_start, info={"got": got0, "span": sp}))
    except Exception as e:
        traceback.print_exc()
        res.ops.append(Op("bootstrap", time.perf_counter() - t_start, ok=False,
                          error=f"{type(e).__name__}: {e}"))
        return res
    for h in handles:
        h.unpersist()
    committed = set(_segment_files(seg_root))
    cands = probe_frame(spark, cand_lo, PROBE_CANDIDATES)
    robots = eng.robots_df()
    for _ in range(max(2, int(seconds // ROUND_SECONDS))):
        disk0 = _tree_bytes(wd, skip="segments")
        _collect_garbage(spark)
        t = time.perf_counter()
        try:
            with tracer.span("op.drain") as sp:
                seen_state = store.read_deltas(spark, "seen_state", 0)
                gated = politeness.apply_robots_gate(cands, robots)
                new_rows, state, handles = dedup.dedup_candidates(
                    gated, seen_state, 1, store_root=seg_root
                )
                got = _admit_and_write(store, new_rows, state, 1)
        except Exception as e:
            traceback.print_exc()
            res.ops.append(Op("drain", time.perf_counter() - t, ok=False,
                              error=f"{type(e).__name__}: {e}"))
            return res
        dt = time.perf_counter() - t
        segs = _segment_files(seg_root)
        fresh = set(segs) - committed
        res.ops.append(Op("drain", dt, urls=PROBE_CANDIDATES, info={
            "got": got, "admitted": got[0], "candidates": PROBE_CANDIDATES, "span": sp,
            "seg_files": len(fresh), "seg_bytes": sum(segs[f] for f in fresh),
            "ckpt_bytes": _tree_bytes(wd, skip="segments") - disk0,
            "live_segments": len(segs),
        }))
        # reset to the committed state outside the timed region: the next
        # round re-pays the run write (content-addressed names would
        # otherwise turn it into a skip)
        for h in handles:
            h.unpersist()
        for f in fresh:
            os.remove(os.path.join(seg_root, f))
        store.clean_epoch(1)
    res.batches_s.append(res.ops[0].seconds + res.ops[1].seconds)
    verify_probe(base, res)
    return res


def verify_probe(base: int, res: Result) -> None:
    want_build = expected_admission(base, PROBE_SEEN)
    want_round = expected_admission(base + PROBE_SEEN, PROBE_CANDIDATES // 2)
    for op in res.ops:
        if not op.ok:
            continue
        want = want_build if op.kind == "bootstrap" else want_round
        if op.info["got"] != want:
            op.ok = False
            op.error = f"{op.kind}: admitted (count, checksum) {op.info['got']} != {want}"
