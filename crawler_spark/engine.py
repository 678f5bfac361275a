"""The superstep crawl engine (SURVEY.md §3.2 Spark equivalent; M2/M4/M5/M6).

One superstep = one barrier-synchronized batch job:

  batch    = politeness take-k over the frontier          [O3, §4.2-1/2]
  fetched  = pages ⋈ batch (url equi-join; batch broadcast
             when small — the corpus IS the web here)     [J1/S1]
  parsed   = JVM extraction kernel per page kind          [§2.10]
  entities → categories/brands/products/img_cache deltas  [S5, J2/J7/J4]
  succ     = successor URLs with lexicographic discovery
             paths (page chains, detail variants)         [S3/J6/U1]
  frontier = (frontier ∖ batch) ∪ (succ ∖ seen)           [U1/U3]
  seen     ∪= batch; partitioned bloom updated            [§4.2-3]
  checkpoint: per-partition lineage counters + manifest    [§4.2-4]

The crawl order contract vs the reference (SURVEY.md §7.3-2): per host,
URLs are fetched in (path, url) order under the per-host budget
k = budget_ms // crawl_delay; cross-host interleaving is defined by the
superstep barrier. The pure-Python oracle (`crawler_spark.oracle`)
encodes the same contract; golden tests assert sequence equality.
"""

from __future__ import annotations

import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.storagelevel import StorageLevel

from . import schemas
from .bloom import PartitionedBloom
from .extract import (
    extract_categories,
    extract_details,
    extract_listings,
)
from .politeness import politeness_take, robots_allowed
from .statestore import StateStore
from .urltools import canonicalize_expr, registrable_domain_udf

_CKPT_PARTS = 16  # lineage partition granularity (url-hash)


@dataclass
class EngineConfig:
    budget_ms: int = 30_000
    max_k: int = 1_000
    n_salts: int = 8
    default_crawl_delay_ms: int = 3_000
    # bits per bloom partition (partition and hash counts are
    # PartitionedBloom's defaults)
    bloom_bits: int = 1 << 17
    # bitmaps up to this size ride in the probe UDF closure; above it
    # each probe task loads only its own partitions' bitmap files
    bloom_broadcast_limit_bytes: int = 64 << 20
    broadcast_batch_limit: int = 2_000_000
    max_supersteps: int = 10_000
    # bench knob: treat the frontier as drained below this size (long
    # politeness tails on huge-crawl-delay hosts otherwise pad dozens of
    # near-empty supersteps; 0 = drain fully)
    stop_when_frontier_below: int = 0
    # Adaptive superstep sizing (off by default; golden tests use the
    # fixed cadence): when a superstep's batch lands under
    # adaptive_min_batch, the next superstep simulates a longer
    # politeness window (budget × 2^j, capped) — per-host fetch RATE is
    # unchanged (k = window/delay), but the barrier count on long
    # politeness tails collapses. A superstep is a simulated time
    # window, not a wall-clock unit, so widening it preserves the
    # politeness contract by construction.
    adaptive_budget: bool = False
    adaptive_min_batch: int = 5_000
    adaptive_max_mult: int = 64
    # persist every discovered (src_url, dst_url, kind) edge to the
    # 'links' state table (pre-first-wins-dedup — authority wants every
    # parent). Feeds scripts/run_crawl.py --compute-priority →
    # operators/graph.pagerank()/hits() → the (url, score) table the
    # --priority knob consumes: the Cho/Garcia-Molina/Page crawl →
    # rank → recrawl loop, closed on the engine's own graph. Off by
    # default: one extra delta write per superstep.
    record_links: bool = False
    # max candidate rows for the broadcast (no-shuffle-of-state) form of
    # the url-seen and img-cache anti-joins; above it the classic
    # shuffle join is the right plan (~30 MB of urls at the default)
    seen_anti_broadcast_limit: int = 500_000
    # robots tables at or below this many hosts are collected once and
    # compiled into the successor gate as a map literal (no broadcast
    # join in the superstep barrier path); larger tables keep the join
    robots_rules_map_max: int = 10_000
    # loop-read state tables are compacted every K supersteps (url_seen
    # derives from crawl_log, which every superstep's anti-join scans —
    # file-count growth there is direct barrier cost)
    compact_every: int = 8


def _kind_col() -> F.Column:
    p = F.parse_url(F.col("url"), F.lit("PATH"))
    return (
        F.when(p.endswith("/getcategory"), F.lit("category"))
        .when(p.endswith("/queryproductbypage"), F.lit("listing"))
        .when(p.endswith("/getproductdetail"), F.lit("detail"))
        .otherwise(F.lit("other"))
    )


def _site_col() -> F.Column:
    return F.parse_url(F.col("url"), F.lit("HOST"))


def _qparam(name: str) -> F.Column:
    return F.parse_url(F.col("url"), F.lit("QUERY"), F.lit(name)).cast("long")


def _path3(sidx: F.Column, a: F.Column, b: F.Column) -> F.Column:
    return F.format_string("%010d/%010d/%010d", sidx, a, b)


_LISTING_URL = (
    "concat('https://', site, '/api/mall/queryproductbypage?category=', "
    "cast({cat} as string), '&page=', cast({page} as string))"
)
_DETAIL_URL = (
    "concat('https://', site, '/api/product/getproductdetail?id=', "
    "cast({pid} as string), '&category=', cast({cat} as string))"
)

_FRONTIER_COLS = [
    "url",
    "host",
    "path",
    "parent_url",
    "root_seed",
    "depth",
    "superstep_added",
]

def _ckpt_pid() -> F.Column:
    return F.pmod(F.xxhash64(F.col("url")), F.lit(_CKPT_PARTS)).cast("int")


class CrawlEngine:
    """Distributed URL-frontier crawler over a pages corpus table."""

    def __init__(
        self,
        spark: SparkSession,
        pages_path: str,
        seeds_path: str,
        robots_path: str | None,
        state_dir: str,
        config: EngineConfig | None = None,
        fresh: bool = False,
        robots_df: DataFrame | None = None,
        priority_df: DataFrame | None = None,
    ):
        self.spark = spark
        self.cfg = config or EngineConfig()
        # optional (url, score) authority signal for frontier ordering —
        # the graph operators (operators/graph.py pagerank()/hits())
        # promoted to the scheduler (VERDICT r3 #5): per-host selection
        # becomes score DESC with the default (path, url) discovery
        # order as tie-break, so None reproduces the golden order
        self.priority_df = priority_df
        self.store = StateStore(spark, state_dir, fresh=fresh)
        # manifests from before the bloom became the only URL-seen
        # structure name it; a cuckoo-filter crawl cannot be resumed
        if self.store.manifest.pop("seen_filter", "bloom") != "bloom":
            raise ValueError(
                f"state dir {state_dir!r} holds a crawl whose URL-seen "
                "structure is a cuckoo filter, which this engine no longer "
                "reads — pass --fresh to restart it."
            )
        self._seed_rows: list[tuple[int, int]] | None = None
        # Corpus layout gate: a 100 TB table arrives as thousands of
        # files — scan it per superstep and let Catalyst prune columns
        # (an init-time full-table repartition+persist of the html
        # column would be fatal at that scale). Only a small-file
        # sandbox corpus, whose few row groups would cap every
        # downstream stage's task count, is rebalanced and cached.
        src = spark.read.schema(schemas.PAGES).parquet(pages_path)
        if self._corpus_file_count(pages_path) >= (
            spark.sparkContext.defaultParallelism
        ):
            self.pages = src
        else:
            n_part = min(512, spark.sparkContext.defaultParallelism * 4)
            self.pages = src.repartition(n_part).persist(
                StorageLevel.MEMORY_AND_DISK
            )
        # pre-structured politeness table, or one parsed from raw
        # robots.txt bodies by crawler_spark.robots.parse_robots_txt
        self.robots = (
            robots_df
            if robots_df is not None
            else spark.read.schema(schemas.ROBOTS).parquet(robots_path)
        )
        # dimension-sized and loop-invariant, but referenced by EVERY
        # superstep's politeness join and successor robots gate — the r5
        # barrier profile showed each superstep re-running the parquet
        # scan (file listing + footer reads) before rebuilding the
        # broadcast. localCheckpoint truncates to cached blocks: one
        # scan for the whole crawl. (The broadcast exchange itself is
        # per-query by Spark's design; only the scan is hoisted.)
        self.robots = self.robots.localCheckpoint(eager=True)
        # small-robots fast path for the per-superstep successor gate: a
        # collected {host: disallow_prefixes} map compiles the gate into
        # the succ chain's own codegen span — one broadcast-exchange job
        # per superstep gone (r5 barrier profile). Limit+1 probe instead
        # of a count; above the limit the broadcast-join form stands
        # (the 10^6-host scale path, like the bloom probe switch).
        self._robots_rules: dict[str, list[str]] | None = None
        head = (
            self.robots.select("host", "disallow_prefixes")
            .limit(self.cfg.robots_rules_map_max + 1)
            .collect()
        )
        if len(head) <= self.cfg.robots_rules_map_max:
            self._robots_rules = {
                r["host"]: list(r["disallow_prefixes"] or []) for r in head
            }
        # compile the map literal ONCE; supersteps reuse the Column
        # (review finding: per-superstep rebuild is thousands of py4j
        # literal constructions at the 10k-host cap). _UNSET → large
        # table → per-call broadcast-join form.
        from .politeness import _UNSET, compile_rules_map

        self._robots_rules_col = (
            compile_rules_map(self._robots_rules)
            if self._robots_rules is not None
            else _UNSET
        )
        self.seeds_path = seeds_path
        # Resume-exactness fence for the priority signal (same class as
        # pipeline._check_fingerprint): the score table reorders every
        # subsequent superstep's batch, so resuming a crawl under a
        # DIFFERENT (or newly absent/present) table would silently
        # produce a crawl order no uninterrupted run can produce.
        # Cheap identity: row count + two order-insensitive combines of
        # xxhash64(url, score-as-double) — a 64-bit hash of the BINARY
        # double value, not a string rendering (ADVICE r4: summed
        # 32-bit crc32s over formatter-dependent text is both weak and
        # tied to Spark's double formatter). xor catches any odd-count
        # row edit; the wrap-safe 31-bit sum catches the pairwise
        # duplicate add/remove xor is blind to. Manifests from before
        # this key could only have run without a priority table (the
        # knob is new) → None.
        pfp = None
        if priority_df is not None:
            h = F.xxhash64(F.col("url"), F.col("score").cast("double"))
            row = priority_df.agg(
                F.count("*").alias("n"),
                F.expr(
                    "bit_xor(xxhash64(url, cast(score as double)))"
                ).alias("hx"),
                F.sum(F.pmod(h, F.lit(2**31))).alias("hs"),
            ).collect()[0]
            pfp = {
                "n": int(row["n"]),
                "hx": None if row["hx"] is None else int(row["hx"]),
                "hs": None if row["hs"] is None else int(row["hs"]),
            }
        if self.store.manifest["frontier"] is not None:
            committed_pfp = self.store.manifest.get("priority_fp")
            if (
                isinstance(committed_pfp, dict)
                and "crc" in committed_pfp
                and priority_df is not None
            ):
                # migration (round-5 review finding): round-4 manifests
                # fingerprinted the table as n + summed crc32 over a
                # string rendering — incomparable to the xxhash64 form,
                # which would have made every legacy resume refuse even
                # with the IDENTICAL table. Recompute the legacy digest
                # for the comparison; a match upgrades the manifest to
                # the new form below.
                legacy = priority_df.agg(
                    F.count("*").alias("n"),
                    F.sum(
                        F.crc32(
                            F.concat_ws(
                                ":",
                                F.col("url"),
                                F.col("score").cast("double").cast("string"),
                            )
                        )
                    ).alias("crc"),
                ).collect()[0]
                committed_cmp = committed_pfp
                current_cmp = {
                    "n": int(legacy["n"]),
                    "crc": (
                        None if legacy["crc"] is None else int(legacy["crc"])
                    ),
                }
            else:
                committed_cmp, current_cmp = committed_pfp, pfp
            if committed_cmp != current_cmp:
                raise ValueError(
                    f"state dir {state_dir!r} holds a crawl started with a "
                    f"different frontier-priority table (committed "
                    f"{committed_pfp}, current {pfp}); resuming would "
                    "change the crawl order mid-run — pass the same "
                    "--priority table, or --fresh to restart."
                )
        self.store.manifest["priority_fp"] = pfp
        if self.store.manifest["frontier"] is None:
            self._init_frontier()
        self.bloom = PartitionedBloom.load(self.store.manifest["bloom"])
        self._budget_mult = 1

    # ------------------------------------------------------------------
    @staticmethod
    def _corpus_file_count(pages_path: str) -> int:
        if not os.path.isdir(pages_path):
            return 1
        return sum(
            1
            for _root, _dirs, files in os.walk(pages_path)
            for f in files
            if f.endswith(".parquet")
        )

    # ------------------------------------------------------------------
    def _init_frontier(self) -> None:
        """Superstep 0: seed the frontier (canonicalized, robots-gated)."""
        seeds = self.spark.read.schema(schemas.SEEDS).parquet(self.seeds_path)
        f = (
            seeds.withColumn("url", canonicalize_expr(F.col("url")))
            .filter(F.col("url").isNotNull())
            .withColumn("host", registrable_domain_udf(F.col("url")))
            .withColumn("path", F.format_string("%010d", F.col("seed_order")))
            .withColumn("parent_url", F.lit(None).cast("string"))
            .withColumn("root_seed", F.col("url"))
            .withColumn("depth", F.lit(0))
            .withColumn("superstep_added", F.lit(0).cast("long"))
        )
        f = robots_allowed(f, self.robots).select(*_FRONTIER_COLS)
        self.store.write_frontier(f, 0)
        bloom = PartitionedBloom(m_bits=self.cfg.bloom_bits)
        bloom.add_df(self.spark.read.parquet(self.store.manifest["frontier"]))
        bpath = self.store.bloom_path(0)
        bloom.save(bpath)
        self.store.set_bloom(bpath)
        n = self.spark.read.parquet(self.store.manifest["frontier"]).count()
        self.store.manifest["counters"]["frontier_rows"] = n
        self.store.commit()

    # ------------------------------------------------------------------
    def _fetch(self, batch: DataFrame, n_batch: int) -> DataFrame:
        """J1: the hot join. The batch side is broadcast (pages streams
        through unshuffled — at 100 TB a shuffle of the html column per
        superstep would dominate everything; on a real cluster this is
        the runtime-bloom/DPP + bucketing story, SURVEY.md §4.1)."""
        b = batch.select("url", "host", "path", "root_seed", "depth", "host_rank")
        if n_batch <= self.cfg.broadcast_batch_limit:
            b = F.broadcast(b)
        return self.pages.join(b, "url", "inner")

    # ------------------------------------------------------------------
    def _jd(self, name: str) -> None:
        """Tag subsequent jobs with a phase name (thread-local). Shows
        up in the Spark UI / event log so per-phase cost is attributable
        in production, not just in this sandbox's phase log."""
        self.spark.sparkContext.setJobDescription(name)

    # ------------------------------------------------------------------
    def run_superstep(self) -> dict:
        """Execute one superstep; returns its counter summary."""
        cfg = self.cfg
        spark = self.spark
        store = self.store
        s = store.manifest["superstep"] + 1
        t0 = time.monotonic()
        self._superstep_persists: list[DataFrame] = []
        self._links_delta: DataFrame | None = None

        frontier = store.read_frontier().persist(StorageLevel.MEMORY_AND_DISK)
        budget_ms = cfg.budget_ms * self._budget_mult
        # localCheckpoint (NOT persist): every downstream action in the
        # superstep references this frame, and with persist each one
        # re-analyzes + re-optimizes the full politeness-window lineage
        # — driver-side Catalyst time that a 2-superstep event-log audit
        # showed to be ~43% of wall clock (91 jobs, each re-planning
        # giant trees). Checkpointing truncates the logical plan to a
        # leaf; storage cost is identical to the persist it replaces.
        self._jd(f"s{s}:politeness_take")
        batch = politeness_take(
            frontier,
            self.robots,
            budget_ms,
            cfg.max_k,
            cfg.n_salts,
            cfg.default_crawl_delay_ms,
            priority=self.priority_df,
        ).localCheckpoint(eager=False)
        # lazy: the kind_counts collect right below is the first action
        # and materializes the checkpoint — eager=True here was a second
        # back-to-back driver job over the same politeness window (r5
        # barrier profile: two ~0.2-0.5 s serial job floors at every
        # superstep head collapsed into one)
        ph: dict[str, float] = {}

        def _tick(name: str, t=[time.monotonic()]) -> None:
            now = time.monotonic()
            ph[name] = round(now - t[0], 3)
            t[0] = now

        # one agg yields both the batch size and the per-kind split
        # (kind is a pure function of the url — no fetch needed)
        self._jd(f"s{s}:kind_counts")
        kind_counts = {
            r["kind"]: r["count"]
            for r in batch.groupBy(_kind_col().alias("kind")).count().collect()
        }
        n_batch = sum(kind_counts.values())
        _tick("politeness")
        if n_batch == 0:
            batch.unpersist()
            frontier.unpersist()
            return {"superstep": s, "fetched": 0, "done": True}

        fetched = (
            self._fetch(batch, n_batch)
            .withColumn("kind", _kind_col())
            .withColumn("site", _site_col())
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        n_cat = kind_counts.get("category", 0)
        n_listing = kind_counts.get("listing", 0)
        n_detail = kind_counts.get("detail", 0)

        successors: list[DataFrame] = []
        error_frames: list[DataFrame] = []

        # 404s: fetched but absent from the corpus → quarantine (S6);
        # anti-join against the (small) fetched result, not the corpus
        missing = batch.join(fetched.select("url"), "url", "left_anti")
        error_frames.append(
            missing.select(
                "url",
                F.lit(s).cast("long").alias("superstep"),
                F.lit("missing-page").alias("error"),
                F.lit(None).cast("binary").alias("raw"),
            )
        )

        # ---- concurrent superstep chains -------------------------------
        # The writes of one superstep land in INDEPENDENT tables and the
        # successor/frontier chain reads only the checkpointed parse
        # frames, so the serial action sequence (crawl_log → brands →
        # products → img_cache → categories → frontier …) was pure
        # barrier cost: ~10 small driver-scheduled jobs back to back.
        # Run the chains on driver threads (job groups are thread-local
        # under pinned-thread mode); two events guard the real data
        # dependencies —
        #   ev_details: the detail parse frame is materialized (variant
        #     successors read it; without the gate two jobs would race
        #     to first-compute the same lazy checkpoint),
        #   ev_cats: the categories delta is committed to the store and
        #     the seed index re-collected (listing successors rank by
        #     post-insert category seq — O1 stale-first order).
        # On a real cluster this is plain concurrent job submission —
        # the scheduler interleaves stages across executors.
        ev_details = threading.Event()
        ev_cats = threading.Event()
        if n_detail and (n_cat or n_listing):
            # two chains would otherwise race to first-materialize the
            # shared fetched cache (duplicate corpus-scan work)
            self._jd(f"s{s}:fetch_materialize")
            fetched.count()
        _tick("fetch_join")

        tasks: list[tuple[str, object]] = []

        def t_crawl_log() -> None:
            # crawl order evidence (golden contract)
            store.write_delta(
                "crawl_log",
                batch.select(
                    "url",
                    "host",
                    F.lit(s).cast("long").alias("superstep"),
                    F.col("host_rank").cast("long").alias("host_rank"),
                    F.lit(0).cast("long").alias("seq"),
                ),
                s,
            )

        tasks.append(("crawl_log", t_crawl_log))

        details = None
        if n_detail:
            # lazy localCheckpoint: plan-truncation for the huge
            # extraction expression tree (every entity write, successor
            # union and error frame replans it under persist); data
            # materializes at the first consuming job, same bytes as
            # the persist it replaces.
            details = (
                extract_details(fetched.filter(F.col("kind") == "detail"))
                # checkpoint-width cut: raw html is only re-read by the
                # S6 error quarantine (~ok rows) — null it for parsed
                # rows so the materialized leaf doesn't store every
                # page's bytes a second time (fetched already caches
                # them); uploaded_* intermediates are already rendered
                # into main_imgs/detail_imgs/text.
                .withColumn("html", F.when(~F.col("ok"), F.col("html")))
                .drop("uploaded_main", "uploaded_detail")
                .localCheckpoint(eager=False)
            )
            self._detail_successors(details, s, successors, error_frames)

            def t_detail() -> None:
                w0 = time.monotonic()
                try:
                    self._jd(f"s{s}:detail_materialize")
                    details.count()
                finally:
                    ev_details.set()
                ph["detail_materialize"] = round(time.monotonic() - w0, 3)
                self._write_detail_entities(details, s, n_detail)

            tasks.append(("detail_entities", t_detail))
        else:
            ev_details.set()

        cats = None
        lst = None
        if n_cat or n_listing:
            # checkpointed: four consumers (categories write, cat img
            # links, page-1 successors, error frame) would each re-run
            # the category extraction otherwise
            if n_cat:
                cats = extract_categories(
                    fetched.filter(F.col("kind") == "category")
                ).localCheckpoint(eager=False)
                error_frames.append(
                    cats.filter(~F.col("ok")).select(
                        "url",
                        F.lit(s).cast("long").alias("superstep"),
                        F.col("err").alias("error"),
                        F.col("html").alias("raw"),
                    )
                )
            if n_listing:
                # three consumers (detail successors, page successors,
                # error frame) — localCheckpoint so the JSON extraction
                # runs once AND its expression tree stops being
                # re-planned per action
                lst = (
                    extract_listings(fetched.filter(F.col("kind") == "listing"))
                    # same width cut as details: html only survives for
                    # the ~ok error-quarantine rows
                    .withColumn("html", F.when(~F.col("ok"), F.col("html")))
                    .localCheckpoint(eager=False)
                )
                error_frames.append(
                    lst.filter(~F.col("ok")).select(
                        "url",
                        F.lit(s).cast("long").alias("superstep"),
                        F.col("err").alias("error"),
                        F.col("html").alias("raw"),
                    )
                )

            def t_listing() -> None:
                try:
                    self._jd(f"s{s}:listing_entities")
                    if n_cat:
                        self._write_listing_entities(
                            cats, s, on_categories_written=ev_cats.set
                        )
                finally:
                    ev_cats.set()  # safety net (double-set is a no-op)

            tasks.append(("listing_entities", t_listing))
        else:
            ev_cats.set()

        # ---- frontier update: succ ∖ (seen ∪ frontier), first-wins ----
        remaining = frontier.join(batch.select("url"), "url", "left_anti")
        frontier_box: dict[str, DataFrame | None] = {"new_rows": None}

        def t_frontier() -> None:
            w0 = time.monotonic()
            ev_details.wait()
            ev_cats.wait()
            ph["frontier_wait"] = round(time.monotonic() - w0, 3)
            self._jd(f"s{s}:frontier")
            if n_cat or n_listing:
                self._listing_successors(
                    cats, lst, n_cat, n_listing, s, successors
                )
            w1 = time.monotonic()
            new_rows = self._new_frontier_rows(
                successors, remaining, batch, s, ph
            )
            ph["frontier_new_rows"] = round(time.monotonic() - w1, 3)
            frontier_next = remaining.select(*_FRONTIER_COLS)
            if new_rows is not None:
                frontier_next = frontier_next.unionByName(
                    new_rows.select(*_FRONTIER_COLS)
                )
            self._jd(f"s{s}:frontier_write")
            w2 = time.monotonic()
            store.write_frontier(frontier_next, s)
            ph["frontier_write"] = round(time.monotonic() - w2, 3)
            frontier_box["new_rows"] = new_rows

        tasks.append(("frontier", t_frontier))

        def _timed(name: str, fn) -> None:
            w0 = time.monotonic()
            fn()
            ph[name] = round(time.monotonic() - w0, 3)

        with ThreadPoolExecutor(max_workers=len(tasks)) as pool:
            futs = [pool.submit(_timed, name, fn) for name, fn in tasks]
            for fut in futs:
                fut.result()
        new_rows = frontier_box["new_rows"]
        # url_seen needs no separate write: it is the (url, superstep)
        # projection of crawl_log (statestore derives it on read)
        errors = error_frames[0]
        for e in error_frames[1:]:
            errors = errors.unionByName(e)
        errors = errors.persist(StorageLevel.MEMORY_AND_DISK)

        _tick("chains")
        # ---- two independent read-only jobs over the now-cached frames
        # run CONCURRENTLY (batch/new_rows were materialized by the
        # frontier write; errors is touched only by the agg thread):
        #  A. one tagged agg yields n_new, n_err AND the per-pid lineage
        #     counts (previously three separate actions),
        #  B. the bloom delta add (PartitionedBloom.add_df).
        # Sequentially these are each mostly job-scheduling latency —
        # constant per superstep — so overlapping them buys back real
        # barrier time at zero semantic cost. ----
        tagged = batch.select(_ckpt_pid().alias("pid"), F.lit("f").alias("t"))
        delta_urls = batch.select("url")
        if new_rows is not None:
            tagged = tagged.unionByName(
                new_rows.select(_ckpt_pid().alias("pid"), F.lit("n").alias("t"))
            )
            delta_urls = delta_urls.unionByName(new_rows.select("url"))
        tagged = tagged.unionByName(
            errors.select(_ckpt_pid().alias("pid"), F.lit("e").alias("t"))
        )
        # same task-count discipline as the successor union: three
        # cached frames contribute ~3× scan-split partitions of a few
        # KB each to a count-only agg
        tagged = tagged.coalesce(self.spark.sparkContext.defaultParallelism)

        def _bloom_update() -> None:
            self._jd(f"s{s}:bloom_delta")
            self.bloom.add_df(delta_urls)

        with ThreadPoolExecutor(max_workers=2) as pool:
            def _tagged_counts():
                self._jd(f"s{s}:lineage_agg")
                return tagged.groupBy("pid", "t").count().collect()

            f_counts = pool.submit(_tagged_counts)
            f_bloom = pool.submit(_bloom_update)
            counts = f_counts.result()
            f_bloom.result()
        fetched_c = {r["pid"]: r["count"] for r in counts if r["t"] == "f"}
        new_c = {r["pid"]: r["count"] for r in counts if r["t"] == "n"}
        n_new = sum(new_c.values())
        n_err = sum(r["count"] for r in counts if r["t"] == "e")

        _tick("lineage_agg_bloom")
        bpath = store.bloom_path(s)
        self.bloom.save(bpath)
        store.set_bloom(bpath)

        _tick("bloom_save")
        # errors delta, lineage checkpoint, and the periodic compactions
        # write independent tables — same concurrent-chain treatment
        compact_tables = (
            ("crawl_log", "img_cache", "brands", "categories")
            + (("links",) if cfg.record_links else ())
            if cfg.compact_every and s % cfg.compact_every == 0
            else ()
        )
        if self._links_delta is not None:
            # written BEFORE the tail pool, not in it: the tail may
            # also compact 'links' this superstep, and compact()
            # re-reads then REBINDS manifest['tables']['links'] — a
            # concurrent delta append could land on the orphaned list
            # and silently drop this superstep's edges (round-5 review
            # finding). Serial here = append is always visible to the
            # compaction that follows.
            self._jd(f"s{s}:links_write")
            store.write_delta("links", self._links_delta, s)

        tail: list = []
        if n_err:

            def t_errors() -> None:
                self._jd(f"s{s}:errors_write")
                store.write_delta("errors", errors, s)

            tail.append(t_errors)

        def t_checkpoint() -> None:
            # ---- per-partition lineage counters (north rule) ----
            self._jd(f"s{s}:checkpoint_write")
            self._write_checkpoint(s, frontier, fetched_c, new_c, n_err)

        tail.append(t_checkpoint)
        for table in compact_tables:

            def t_compact(table=table) -> None:
                self._jd(f"s{s}:compact_{table}")
                store.compact(table, s)

            tail.append(t_compact)
        with ThreadPoolExecutor(max_workers=len(tail)) as pool:
            for fut in [pool.submit(fn) for fn in tail]:
                fut.result()
        _tick("checkpoint_errors_compact")

        if cfg.adaptive_budget:
            if n_batch < cfg.adaptive_min_batch:
                self._budget_mult = min(
                    cfg.adaptive_max_mult, self._budget_mult * 2
                )
            elif n_batch >= 4 * cfg.adaptive_min_batch:
                self._budget_mult = 1

        c = store.manifest["counters"]
        c["pages_fetched"] = c.get("pages_fetched", 0) + n_batch
        c["frontier_rows"] = c.get("frontier_rows", 0) - n_batch + n_new
        store.manifest["superstep"] = s
        store.commit()
        store.gc_unreferenced()

        # persisted frames are released here; localCheckpoint'd frames
        # (batch/details/lst/new_cats/new_rows) free their blocks via
        # the ContextCleaner as soon as this scope drops the last
        # reference (CPython refcounting → prompt)
        for df in (fetched, frontier):
            df.unpersist()
        errors.unpersist()
        for df in self._superstep_persists:
            df.unpersist()
        return {
            "superstep": s,
            "fetched": n_batch,
            "new_urls": n_new,
            "errors": n_err,
            "frontier_rows": c["frontier_rows"],
            "phases": ph,
            "secs": round(time.monotonic() - t0, 3),
            "done": c["frontier_rows"] == 0,
        }

    # ------------------------------------------------------------------
    def _write_detail_entities(self, details, s, n_detail=None):
        """Entity deltas (brands J2, products, img_cache J4) from parsed
        detail pages. Runs on its own driver thread — writes only to
        tables no other superstep chain touches (brands, products, and
        the suffix-separated img_cache delta)."""
        store = self.store
        ok = details.filter(F.col("ok"))

        # brands: lookup-or-insert, first-wins in batch order (host, rank)
        existing_brands = store.read("brands")
        w = Window.partitionBy("brand_id").orderBy("host", "host_rank")
        new_brands = (
            ok.filter(F.col("brand_id").isNotNull())
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(
                F.col("brand_id").alias("id"),
                F.col("brand_name"),
                F.col("brand_img"),
            )
            .join(existing_brands.select("id"), "id", "left_anti")
        )
        self._jd(f"s{s}:brands_write")
        store.write_delta("brands", new_brands, s)
        brands_state = store.read("brands")

        # products: append one row per crawled detail page, brand fields
        # resolved against the post-insert brand state (J2)
        prod = (
            ok.drop("brand_name", "brand_img")
            .join(
                F.broadcast(
                    brands_state.select(
                        F.col("id").alias("brand_id"),
                        F.col("brand_name"),
                        F.col("brand_img"),
                    )
                ),
                "brand_id",
                "left",
            )
            .select(
                F.col("product_id").alias("id"),
                "product_code",
                "brand_id",
                "brand_name",
                "brand_img",
                _qparam("category").alias("category_id"),
                "style",
                "name",
                "sale_price",
                "cost_price",
                "custom_price",
                "main_imgs",
                "detail_imgs",
                "specifications",
                "thumbnails",
                "features",
                "attribute_json",
                F.col("text_extracted").alias("text"),
                "url",
            )
        )
        self._jd(f"s{s}:products_write")
        store.write_delta("products", prod, s)

        # img_cache: md5-keyed insert-if-absent (J4 / BaseSpider.cs:275-287)
        links = ok.select(F.explode("img_links").alias("link")).distinct()
        self._jd(f"s{s}:img_cache_write")
        # ~16 img links per detail page is the corpus-shape upper bound
        self._append_img_cache(
            links,
            s,
            approx_rows=None if n_detail is None else 16 * n_detail,
        )

    # ------------------------------------------------------------------
    def _detail_successors(self, details, s, successors, error_frames):
        """Variant successors (J6/§3.3) + parse-error frame from detail
        pages — lazy frame construction only (no Spark actions); the
        frontier chain materializes them after ``details`` is cached."""
        ok = details.filter(F.col("ok"))
        # variant successors extend the parent's own path (§3.3)
        succ = (
            ok.select(
                "site",
                "host",
                F.col("url").alias("parent_url"),
                "root_seed",
                "depth",
                F.col("path").alias("_ppath"),
                _qparam("category").alias("_cat"),
                F.posexplode("variant_ids").alias("_vpos0", "_vid"),
            )
            .withColumn(
                "url",
                F.expr(_DETAIL_URL.format(pid="_vid", cat="_cat")),
            )
            .withColumn(
                "path",
                F.concat(
                    F.col("_ppath"),
                    F.lit("/"),
                    F.format_string("%010d", F.col("_vpos0") + 1),
                ),
            )
            .withColumn("kind", F.lit("variant"))
        )
        successors.append(succ)
        error_frames.append(
            details.filter(~F.col("ok")).select(
                "url",
                F.lit(s).cast("long").alias("superstep"),
                F.col("err").alias("error"),
                F.col("html").alias("raw"),
            )
        )

    # ------------------------------------------------------------------
    def _write_listing_entities(self, cats, s, on_categories_written=None):
        """Categories entity delta (insert-if-absent J7, global seq for
        the stale-first seed order O1/P1) + the category-image cache
        delta. Runs on its own driver thread; the frontier chain waits
        only on ``on_categories_written`` (fired after the categories
        delta + seed-index invalidation land — listing successors rank
        by post-insert seq; the img-cache write keeps going after)."""
        store = self.store

        exploded = cats.filter(F.col("ok")).select(
            "url",
            "site",
            "host",
            "host_rank",
            "root_seed",
            "depth",
            F.posexplode("cat_rows").alias("pos", "c"),
        )
        existing = (
            store.read("categories")
            if store.has_rows("categories")
            else None
        )
        w = Window.partitionBy("id").orderBy("host", "host_rank", "pos")
        # partitionless on purpose: seq is a dense auto-increment over
        # the NEW-category delta of one superstep — a dimension-sized
        # frame (taxonomy entries, not pages; the left_anti below keeps
        # only never-seen ids), so the single-task sort is bounded by
        # catalog growth, never by crawl volume
        wseq = Window.orderBy("host", "host_rank", "pos")
        max_seq = store.manifest["counters"].get("max_cat_seq", 0)
        new_cats = (
            exploded.select(
                F.col("c.id").alias("id"),
                F.col("c.category_name").alias("category_name"),
                F.col("c.category_img_link").alias("_img_link"),
                F.col("c.parent_id").alias("parent_id"),
                "host",
                "host_rank",
                "pos",
            )
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
        )
        if existing is not None:
            new_cats = new_cats.join(
                existing.select("id"), "id", "left_anti"
            )
        from .extract import upload_url_sql

        new_cats = (
            new_cats.withColumn("seq", F.row_number().over(wseq) + max_seq)
            .withColumn(
                "category_img",
                F.when(
                    F.col("_img_link").isNotNull()
                    & (F.col("_img_link") != ""),
                    F.expr(upload_url_sql("_img_link")),
                ).otherwise(F.lit("")),
            )
            .localCheckpoint(eager=False)
        )
        self._jd(f"s{s}:categories_count")
        n_new_cats = new_cats.count()
        self._jd(f"s{s}:categories_write")
        store.write_delta(
            "categories",
            new_cats.select(
                "id", "category_name", "category_img", "parent_id", "seq"
            ),
            s,
        )
        store.manifest["counters"]["max_cat_seq"] = max_seq + n_new_cats
        if n_new_cats:
            self._seed_rows = None  # invalidate the cached seed index
        if on_categories_written is not None:
            on_categories_written()
        self._append_img_cache(
            new_cats.filter(
                F.col("_img_link").isNotNull() & (F.col("_img_link") != "")
            ).select(F.col("_img_link").alias("link")),
            s,
            suffix="cat",
            approx_rows=n_new_cats,
        )

    # ------------------------------------------------------------------
    def _listing_successors(self, cats, lst, n_cat, n_listing, s, successors):
        """Listing page-1 / next-page / detail successors (S3). Runs
        inside the frontier chain AFTER the categories delta is written
        — the seed index ranks leaves by post-insert global seq."""
        # seed index: rank of leaf categories in global insertion order
        # (the reference's OrderBy(UpdateDate) seed priority, O1/P1)
        seed_idx = self._seed_idx_df()

        if n_cat:
            # listing page-1 successors for every leaf on the page
            succ_cat = (
                cats.filter(F.col("ok"))
                .select(
                    "site",
                    "host",
                    F.col("url").alias("parent_url"),
                    "root_seed",
                    "depth",
                    F.explode("cat_rows").alias("c"),
                )
                .filter(F.col("c.parent_id").isNotNull())
                .withColumn("_cat", F.col("c.id"))
                .join(F.broadcast(seed_idx), "_cat", "inner")
                .withColumn(
                    "url", F.expr(_LISTING_URL.format(cat="_cat", page="1"))
                )
                .withColumn("path", _path3(F.col("sidx"), F.lit(1), F.lit(0)))
                .withColumn("kind", F.lit("listing"))
            )
            successors.append(succ_cat)

        if n_listing:
            lok = (
                lst.filter(F.col("ok"))
                .withColumn("_cat", _qparam("category"))
                .join(F.broadcast(seed_idx), "_cat", "left")
                .withColumn(
                    "sidx", F.coalesce(F.col("sidx"), F.lit(10**9))
                )
            )
            # detail successors, 1-based row position
            succ_detail = (
                lok.select(
                    "site",
                    "host",
                    F.col("url").alias("parent_url"),
                    "root_seed",
                    "depth",
                    "sidx",
                    "page_index",
                    "_cat",
                    F.posexplode("row_ids").alias("_pos0", "_pid"),
                )
                .withColumn(
                    "url", F.expr(_DETAIL_URL.format(pid="_pid", cat="_cat"))
                )
                .withColumn(
                    "path",
                    _path3(
                        F.col("sidx"), F.col("page_index"), F.col("_pos0") + 1
                    ),
                )
                .withColumn("kind", F.lit("detail"))
            )
            successors.append(succ_detail)
            # next-page successor while page_index < ceil(total/50)
            succ_page = (
                lok.filter(F.col("page_index") < F.col("page_count"))
                .withColumn("parent_url", F.col("url"))
                .withColumn(
                    "url",
                    F.expr(
                        _LISTING_URL.format(cat="_cat", page="page_index + 1")
                    ),
                )
                .withColumn(
                    "path",
                    _path3(F.col("sidx"), F.col("page_index") + 1, F.lit(0)),
                )
                .withColumn("kind", F.lit("listing_next"))
            )
            successors.append(succ_page)

    # ------------------------------------------------------------------
    def _seed_idx_df(self) -> DataFrame:
        """Leaf-category → global stale-first rank (O1/P1), cached
        driver-side. Categories are a dimension table that changes only
        on category supersteps; before this cache every superstep
        re-read the table and re-ranked it through a partitionless
        global window (a single-task sort) inside each successor plan —
        pure barrier cost. The cache is one collect per invalidation."""
        if self._seed_rows is None:
            if self.store.has_rows("categories"):
                ids = (
                    self.store.read("categories")
                    .filter(F.col("parent_id").isNotNull())
                    .orderBy("seq")
                    .select("id")
                    .collect()
                )
                self._seed_rows = [(int(r["id"]), i) for i, r in enumerate(ids)]
            else:
                self._seed_rows = []
            # checkpointed leaf: joined by several successor plans per
            # superstep — don't rebuild/replan a parallelize per use
            self._seed_df = self.spark.createDataFrame(
                self._seed_rows, schema="_cat long, sidx int"
            ).localCheckpoint(eager=False)
        return self._seed_df

    # ------------------------------------------------------------------
    def _append_img_cache(
        self,
        links: DataFrame,
        s: int,
        suffix: str = "",
        approx_rows: int | None = None,
    ):
        """Insert-if-absent into the md5-keyed image cache (J4).

        ``suffix`` keeps the detail-page and category-page writes of one
        superstep in distinct delta dirs (same-path writes would clobber
        each other and double-count in the manifest — StateStore raises
        on a duplicate path as a backstop)."""
        from .extract import upload_url_sql, _ext  # noqa: F401

        store = self.store
        data_uri_md5 = (
            "md5(cast(concat('data:image/', "
            + _ext("link")
            + ", ';base64,', base64(unhex(md5(cast(link as binary))))) "
            "as binary))"
        )
        base = (
            links.filter(F.col("link").isNotNull() & (F.col("link") != ""))
            .withColumn("md5_key", F.expr(data_uri_md5))
            .withColumn("uploaded_url", F.expr(upload_url_sql("link")))
            .dropDuplicates(["md5_key"])
        )
        cache_keys = store.read("img_cache").select("md5_key")
        # Same state-join inversion as the url-seen check: the cache
        # grows with the whole crawl; when this superstep's distinct
        # links are broadcastable (gated on the caller's free row-count
        # hint — counting here would cost an extra materialization),
        # stream-scan the cache for hits instead of shuffling it
        # (see _new_frontier_rows).
        if (
            approx_rows is not None
            and approx_rows <= self.cfg.seen_anti_broadcast_limit
        ):
            # checkpoint: `fresh` feeds both the broadcast and the anti
            # side — without the cut the distinct subtree runs twice
            fresh = base.localCheckpoint(eager=False)
            hits = cache_keys.join(
                F.broadcast(fresh.select("md5_key")), "md5_key", "left_semi"
            )
            rows = fresh.join(F.broadcast(hits), "md5_key", "left_anti")
        else:
            rows = base.join(cache_keys, "md5_key", "left_anti")
        rows = rows.select("md5_key", "uploaded_url")
        store.write_delta("img_cache", rows, s, suffix=suffix)

    # ------------------------------------------------------------------
    def _new_frontier_rows(self, successors, remaining, batch, s, ph=None):
        """Canonicalize → first-wins dedup (min path) → robots gate →
        bloom prefilter → exact anti-join backstop (U1/U3/J4 pattern)."""
        if not successors:
            return None
        if ph is None:
            ph = {}
        w0 = time.monotonic()
        cfg = self.cfg
        self._jd(f"s{s}:succ_dedup")
        _cols = ("url", "host", "path", "parent_url", "root_seed", "depth",
                 "kind")
        succ = successors[0].select(*_cols)
        for sdf in successors[1:]:
            succ = succ.unionByName(sdf.select(*_cols))
        # Task-count discipline: the union inherits one partition per
        # parent partition per frame (3 frames × every corpus-scan
        # split), but each partition holds only KBs of successor URLs.
        # A Python-UDF stage pays a fixed per-task worker round-trip
        # (~0.3 s/node) that dwarfs the per-row work at that width —
        # narrow-merge down to the session's parallelism before the
        # canonicalize/probe chain. (At production scale
        # defaultParallelism is the full cluster width, so this never
        # caps real parallelism.)
        succ = succ.coalesce(self.spark.sparkContext.defaultParallelism)
        # pure-Catalyst canonicalizer (urltools.canonicalize_expr): stays
        # inside the JVM — no Python-worker round trip in the
        # per-superstep hot path (round-2 event logs put the pandas UDF
        # predecessor among the largest non-extract stages). The
        # unparseable-URL drop happens AFTER the first-wins agg below
        # (r5 barrier profile): an IS NOT NULL filter here is pushed
        # below the projection, inlining the entire canonicalize tree
        # into the filter CONDITION — every successor row paid the chain
        # twice (plan audit, exec 135 stage 566). Post-agg, the filter
        # reads the materialized grouping key; null urls just form one
        # dropped group.
        succ = succ.withColumn("url", canonicalize_expr(F.col("url")))
        if cfg.record_links:
            # every discovered edge, canonical dst, BEFORE the
            # first-wins dedup below collapses multi-parent urls to one
            # row (authority scoring wants all in-links). Lazy separate
            # checkpoint: the write (run_superstep tail) re-runs only
            # the KB-scale union/canonicalize over the already-
            # checkpointed parse frames.
            self._links_delta = succ.select(
                F.col("parent_url").alias("src_url"),
                F.col("url").alias("dst_url"),
                "kind",
                F.lit(s).cast("long").alias("superstep"),
            ).where(F.col("dst_url").isNotNull())
        # first-wins on priority path per url (oracle: sorted-(path,url)
        # insertion; min(struct) = lexicographic min on path); the
        # post-agg IS NOT NULL drops the canonicalize-rejected group
        # against the materialized key (see canonicalize note above)
        succ = (
            succ.groupBy("url")
            .agg(
                F.min(
                    F.struct("path", "host", "parent_url", "root_seed", "depth")
                ).alias("m")
            )
            .filter(F.col("url").isNotNull())
            .select(
                "url",
                F.col("m.host").alias("host"),
                F.col("m.path").alias("path"),
                F.col("m.parent_url").alias("parent_url"),
                F.col("m.root_seed").alias("root_seed"),
                (F.col("m.depth") + 1).alias("depth"),
            )
        )
        succ = robots_allowed(
            succ, self.robots, rules_col=self._robots_rules_col
        )

        # bloom prefilter: definite-new rows skip the exact anti-join
        succ = self.bloom.probe(
            succ,
            os.path.join(self.store.root, "_bloom_parts"),
            cfg.bloom_broadcast_limit_bytes,
        )
        # Evaluate the union→canonicalize→dedup→probe chain exactly
        # once: without this cut, the complementary `_maybe` filters
        # below make Catalyst clone the whole subtree per branch — the
        # event-log showed every successor row canonicalized AND
        # bloom-probed twice (the probe additionally pushed below the
        # first-wins agg, so it ran per pre-dedup row).
        succ = succ.localCheckpoint(eager=False)
        # seen = url_seen table ∪ this superstep's batch (its delta is not
        # written yet — self-referencing variant successors must not
        # re-enter) ∪ the remaining frontier
        seen_urls = (
            self.store.read("url_seen")
            .select("url")
            .unionByName(batch.select("url"))
            .unionByName(remaining.select("url"))
        )
        maybe = succ.filter(F.col("_maybe"))
        # The seen side grows with the whole crawl (O(pages fetched))
        # while `maybe` is only bloom false-positives + true dups. A
        # plain anti-join sort-merge-shuffles the ENTIRE seen relation
        # every superstep — the measured per-superstep floor once
        # crawl_log passes ~10^6 rows. When `maybe` is broadcastable,
        # flip the plan: stream-scan seen against broadcast(maybe) for
        # the hit set (no shuffle of seen), then broadcast-anti the
        # (≤ maybe-sized) hit set back. Falls back to the shuffle join
        # when maybe is large (steady-state web crawls where most links
        # are dups — there the shuffle is the right plan).
        n_maybe = maybe.count()  # succ is checkpointed: a cheap cached agg
        ph["nfr_succ_materialize"] = round(time.monotonic() - w0, 3)
        if n_maybe <= cfg.seen_anti_broadcast_limit:
            hits = seen_urls.join(
                F.broadcast(maybe.select("url")), "url", "left_semi"
            )
            checked = maybe.join(F.broadcast(hits), "url", "left_anti")
        else:
            checked = maybe.join(seen_urls, "url", "left_anti")
        new_rows = (
            succ.filter(~F.col("_maybe"))
            .unionByName(checked)
            .drop("_maybe")
            .withColumn("superstep_added", F.lit(s).cast("long"))
            .localCheckpoint(eager=False)
        )
        return new_rows

    # ------------------------------------------------------------------
    def _write_checkpoint(self, s, frontier, fetched_c, new_c, n_err):
        """Per-url-hash-partition lineage counters (north rule).

        rows_in is carried forward from the previous superstep's
        committed rows_out (telescoping invariant, verified by the
        frontier-conservation test) — re-scanning the whole frontier per
        superstep just to count it would be pure overhead at scale; the
        per-pid fetched/new counts arrive from the superstep's single
        tagged agg job."""
        prev = self.store.manifest["counters"].get("pid_rows_out")
        if prev is not None:
            rows_in = {int(k): v for k, v in prev.items()}
        else:
            rows_in = {
                r["pid"]: r["count"]
                for r in frontier.groupBy(_ckpt_pid().alias("pid"))
                .count()
                .collect()
            }
        rows = []
        pid_rows_out = {}
        for pid in range(_CKPT_PARTS):
            ri = rows_in.get(pid, 0)
            rf = fetched_c.get(pid, 0)
            nw = new_c.get(pid, 0)
            pid_rows_out[pid] = ri - rf + nw
            rows.append(
                (s, pid, ri, rf, ri - rf + nw, nw, n_err if pid == 0 else 0)
            )
        self.store.manifest["counters"]["pid_rows_out"] = pid_rows_out
        self.store.write_delta(
            "checkpoints",
            self.spark.createDataFrame(rows, schemas.CHECKPOINTS),
            s,
        )

    # ------------------------------------------------------------------
    def run(self, max_supersteps: int | None = None) -> dict:
        """Drive supersteps until the frontier drains (or the cap)."""
        cap = max_supersteps or self.cfg.max_supersteps
        done = False
        steps = []
        while not done and len(steps) < cap:
            info = self.run_superstep()
            steps.append(info)
            done = info.get("done", False)
            if (
                not done
                and info.get("frontier_rows", 0)
                < self.cfg.stop_when_frontier_below
            ):
                done = True
        c = self.store.manifest["counters"]
        return {
            "supersteps": self.store.manifest["superstep"],
            "pages_fetched": c.get("pages_fetched", 0),
            "frontier_rows": c.get("frontier_rows", 0),
            "steps": steps,
        }
