#!/usr/bin/env python3
"""Crawl-engine benchmark: one workload per invocation, at local[4].

    python3 perfbench/run.py --workload crawl --seed 7 --seconds 8 --trace 0

Run it from the root of a checkout. The last line of stdout is one JSON
object with the keys correct, attempted, failed and metrics; the line
before it names the workload, the seed and the corpus. With ``--trace 0``
the metrics are the end-to-end ones. With ``--trace 1`` the same workload
runs traced (Spark event log, plus timing wrappers around StateStore and
PartitionedBloom methods) and the metrics are per layer. Scratch files
live in ``.perfbench/`` under the checkout.

Workloads (inputs come from ``--seed``; see corpus.py):

  crawl    CrawlEngine over 8 hosts and 6k products at a fixed 1 h
           budget, stopped after three supersteps (8, 115 and 1.9k
           pages), compaction every 2. Two barrier-bound supersteps and
           one that carries the data plane. Crawl order, seen set and
           per-URL text must equal the oracle's first three supersteps.
  extract  extract_details over the same corpus's detail pages, eight
           copies in 16 single-row-group files (4 tasks per core): the
           parse kernel with no superstep barrier. text_extracted must
           equal the corpus text.

A unit of measured work is one whole crawl (construction excluded) or one
extract pass. A run measures units until the next one is not expected to
end within ``--seconds``, and always at least one crawl or three passes.
Crawls are measured cold, as a crawl process starts; extract passes after
one warm-up pass. Every crawl and every pass is checked.

Times are read on probes.clock(): the monotonic clock less the mean
per-CPU steal, so that a busy neighbour on a shared host does not read as
a slower program.

End-to-end metrics (medians over the run's units):

  setup_s      session start + the median of three set-up steps: a
               CrawlEngine construction on a fresh state dir, or a build
               of the extract_details plan
  wall_s       seconds of one unit
  pages_per_s  pages fetched (crawl) or extracted (pass) per second
  step_s.p50   superstep (crawl) or pass (extract) seconds, over every
  step_s.p90   step of the run
  cpu_s        machine user+system CPU seconds over one unit (/proc/stat)
  peak_rss_mb  peak RSS of this process tree: driver, JVM (a fixed 3 GB
               heap), Python workers; a child that still shares its
               parent's memory (before exec, or just forked) is left out

Per-layer metrics come from one traced unit, as totals over it unless
named a median, and read 0 where the workload does not run the layer:

  engine.*      event-log jobs by the engine's s<N>:<phase> tags: the
                superstep count, median tagged jobs per superstep, jobs
                with no tag, median driver-only seconds per superstep
                (superstep wall not covered by any job), and per phase the
                job count and summed job seconds
  statestore.*  wrapper seconds per method (write_delta per table); the
                state dir's bytes and files after the crawl
  bloom.*       wrapper seconds of add_many, build_deltas and save; the
                fill ratio and the false-positive estimate fill^k
  succ.s        job seconds tagged succ_dedup or frontier
  extract.*     detail-parse job seconds (crawl) or median pass seconds
                (extract), executor CPU per page, tasks; on extract also
                the N->4N efficiency, pages/s at local[4] / (4 x pages/s
                at local[1]), the local[1] passes made untraced in a
                second session
  politeness.*  median superstep-head seconds (engine phase 'politeness')
                and median batch pages
  spark.*       jobs, tasks, executor CPU, scheduler delay, shuffle bytes
                (extract: per pass)
  trace.overhead_s  CPU seconds of the driver-JVM thread that writes the
                event log, over the traced unit (extract: per pass). The
                wrappers' own cost is not counted. Not a traced-minus-
                untraced wall difference: two cold crawls differ by a few
                seconds of noise, more than tracing adds, and a second
                crawl process would double the run

Which end-to-end metric each layer should move:

  engine jobs and driver-only time, the small state writes (commit,
  checkpoints, compaction), bloom.save_s, politeness.*
      -> step_s.p50 on crawl (its near-empty supersteps); not extract
  succ.s, bloom.add_many_s and build_deltas_s, write_delta of products,
  img_cache and crawl_log, spark.shuffle_write_bytes
      -> step_s.p90 and pages_per_s on crawl (its fat superstep); not extract
  extract.*
      -> pages_per_s fully on extract, diluted on crawl
  bloom fill and fpp, statestore bytes and files
      -> peak_rss_mb and the seen anti-join on crawl
  spark.* totals
      -> cpu_s on both
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

from eventlog import covered_s, read_jobs
from probes import LayerTimer, PeakRss, clock, jvm_thread_cpu_s, machine_cpu_s

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
STATE = os.path.join(WORK, "state")
EVENTS = os.path.join(WORK, "events")
# the driver-JVM thread that writes the event log (Spark's listener queue
# "eventLog"): its CPU time is what tracing costs
EVENT_LOG_THREAD = "spark-listener-group-eventLog"
CORES = 4


@dataclass(frozen=True)
class Workload:
    spec: dict  # crawler_spark.fixtures.CorpusSpec fields
    engine: dict = field(default_factory=dict)  # EngineConfig fields
    copies: int = 0  # extract: detail pages written this many times over
    files: int = 0  # extract: input files


_SPEC = {"n_hosts": 8, "n_products": 6_000, "leaves_per_host": 32}
WORKLOADS = {
    "crawl": Workload(
        spec=_SPEC,
        engine={
            "budget_ms": 3_600_000,
            "max_k": 500_000,
            "max_supersteps": 3,
            "compact_every": 2,
        },
    ),
    "extract": Workload(spec=_SPEC, copies=8, files=4 * CORES),
}

PHASES = (
    "politeness_take",
    "kind_counts",
    "fetch_materialize",
    "detail_materialize",
    "brands_write",
    "products_write",
    "img_cache_write",
    "listing_entities",
    "categories_count",
    "categories_write",
    "frontier",
    "succ_dedup",
    "frontier_write",
    "bloom_delta",
    "lineage_agg",
    "errors_write",
    "checkpoint_write",
    "compact",
    "other",
)
STATE_TABLES = (
    "crawl_log",
    "products",
    "img_cache",
    "brands",
    "categories",
    "checkpoints",
    "errors",
)

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "pages_per_s": "1/s",
    "step_s.p50": "s",
    "step_s.p90": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "engine.supersteps": "count",
    "engine.jobs_per_superstep": "count",
    "engine.untagged_jobs": "count",
    "engine.driver_only_s": "s",
    **{f"engine.jobs.{p}": "count" for p in PHASES},
    **{f"engine.job_s.{p}": "s" for p in PHASES},
    "statestore.commit_s": "s",
    **{f"statestore.write_delta_s.{t}": "s" for t in STATE_TABLES},
    "statestore.write_frontier_s": "s",
    "statestore.compact_s": "s",
    "statestore.bytes": "bytes",
    "statestore.files": "count",
    "bloom.add_many_s": "s",
    "bloom.build_deltas_s": "s",
    "bloom.save_s": "s",
    "bloom.fill_ratio": "ratio",
    "bloom.fpp_est": "ratio",
    "succ.s": "s",
    "extract.detail_s": "s",
    "extract.cpu_us_per_page": "us",
    "extract.tasks": "count",
    "extract.scaling_eff": "ratio",
    "politeness.take_s": "s",
    "politeness.batch_pages": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.scheduler_delay_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "trace.overhead_s": "s",
}


def _p90(values: list[float]) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


def _result(failures: list[list[str]], values: dict, units: dict) -> dict:
    for bad in failures:
        for msg in bad:
            print(f"perfbench: incorrect output: {msg}", file=sys.stderr)
    failed = sum(1 for bad in failures if bad)
    return {
        "correct": failed == 0,
        "attempted": len(failures),
        "failed": failed,
        "metrics": {
            name: {"value": float(values.get(name, 0.0)), "unit": unit}
            for name, unit in units.items()
        },
    }


# ---------------------------------------------------------------------------
# Spark session and units of work
# ---------------------------------------------------------------------------


def _prepare_env() -> None:
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import crawler_spark from this checkout
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["CRAWLER_SPARK_DRIVER_MEM"] = "3g"
    # no JVM perf-data file, which HotSpot writes under /tmp whatever
    # java.io.tmpdir says
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    sys.path.insert(0, ROOT)


def _session(cores: int, event_log: bool = False):
    """(SparkSession, seconds to start it)."""
    from crawler_spark.session import get_spark
    extra = {
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # a fixed heap size, so peak RSS does not depend on when the
        # collector decides to grow the heap
        "spark.driver.extraJavaOptions": "-Xms3g -XX:-UsePerfData -Djava.io.tmpdir="
        + os.path.join(WORK, "tmp"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        shutil.rmtree(EVENTS, ignore_errors=True)
        os.makedirs(EVENTS)
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": EVENTS,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    t0 = clock()
    spark = get_spark("perfbench", cores=cores, extra=extra)
    return spark, clock() - t0


def _stop_jvm() -> None:
    """End the JVM that pyspark started (it exits when its stdin closes)
    and wait for it, so that no process of the run outlives it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def _stop_for_log(spark) -> str:
    """Stop the session (which closes its event log); return the log path."""
    app = spark.sparkContext.applicationId
    spark.stop()
    return os.path.join(EVENTS, app)


def _construct(spark, wl: Workload, inputs: str):
    from crawler_spark.engine import CrawlEngine, EngineConfig
    spark.catalog.clearCache()  # drop the previous engine's cached corpus
    t0 = clock()
    eng = CrawlEngine(
        spark,
        pages_path=os.path.join(inputs, "pages.parquet"),
        seeds_path=os.path.join(inputs, "seeds.parquet"),
        robots_path=os.path.join(inputs, "robots.parquet"),
        state_dir=STATE,
        config=EngineConfig(**wl.engine),
        fresh=True,
    )
    return eng, clock() - t0


def _crawl(eng) -> dict:
    """Call run_superstep() until the frontier drains or the superstep cap;
    each step is (epoch start, epoch end, seconds, the superstep's summary)."""
    steps = []
    c0, t0 = machine_cpu_s(), clock()
    while len(steps) < eng.cfg.max_supersteps:
        a, ca = time.time(), clock()
        info = eng.run_superstep()
        steps.append((a, time.time(), clock() - ca, info))
        if info.get("done"):
            break
    return {
        "wall": clock() - t0,
        "cpu": machine_cpu_s() - c0,
        "steps": steps,
        "pages": eng.store.manifest["counters"]["pages_fetched"],
    }


def _check_crawl(eng, inputs: str) -> list[str]:
    """The crawl must equal the oracle's: crawl order, seen set, per-URL
    product text and superstep count, with no URL fetched twice."""
    with open(os.path.join(inputs, "oracle.json")) as f:
        gold = json.load(f)
    store = eng.store
    log = store.read("crawl_log").select("url", "superstep", "host", "host_rank")
    log = sorted((r.superstep, r.host, r.host_rank, r.url) for r in log.collect())
    texts = store.read("products").select("url", "text").collect()
    urls = [r[3] for r in log]
    bad = []
    if len(urls) != len(set(urls)):
        bad.append("a URL appears twice in crawl_log")
    if len(urls) != store.manifest["counters"]["pages_fetched"]:
        bad.append("crawl_log rows differ from the pages_fetched counter")
    if [[u, s, k] for s, _h, k, u in log] != gold["crawl_order"]:
        bad.append("crawl order differs from the oracle")
    if set(urls) != set(gold["url_seen"]):
        bad.append("seen set differs from the oracle")
    if {r.url: r.text for r in texts} != gold["text_by_url"]:
        bad.append("per-URL product text differs from the oracle")
    if store.manifest["superstep"] != gold["supersteps"]:
        bad.append("superstep count differs from the oracle")
    return bad


def _extract_plan(spark, path: str):
    from crawler_spark import schemas
    from crawler_spark.extract import extract_details

    return extract_details(spark.read.schema(schemas.PAGES).parquet(path))


def _extract_layout(spark, path: str) -> None:
    """Splits no larger than the largest input file, so no two files pack
    into one scan task: one task per file at any local[N]."""
    biggest = max(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(biggest))


def _extract_pass(plan, rows: int) -> dict:
    """One pass of the kernel into the no-op sink (what
    scripts/run_extract.py times). Its output is checked on the way, by
    metrics observed in the same job: every row extracted, and
    text_extracted equal to the corpus text."""
    from pyspark.sql import Observation, functions as F

    check = Observation()
    out = plan.observe(
        check,
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (F.coalesce(F.col("text_extracted"), F.lit("")) != F.col("text")).cast(
                "int"
            )
        ).alias("bad"),
    ).select(
        "url",
        "ok",
        "product_id",
        "brand_id",
        "specifications",
        "features",
        "main_imgs",
        "detail_imgs",
        "thumbnails",
        "variant_ids",
        "text_extracted",
    )
    c0, a, ca = machine_cpu_s(), time.time(), clock()
    out.write.mode("overwrite").format("noop").save()
    wall = clock() - ca
    got, bad = check.get, []
    if got["n"] != rows:
        bad.append(f"extracted {got['n']} rows of {rows}")
    if got["bad"]:
        bad.append(f"{got['bad']} rows whose text_extracted differs from text")
    return {
        "wall": wall,
        "cpu": machine_cpu_s() - c0,
        "span": (a, time.time()),
        "bad": bad,
    }


def _extract_passes(plan, rows: int, seconds: float) -> list[dict]:
    """A warm-up pass (JIT of the kernel), then the measured passes."""
    _extract_pass(plan, rows)
    passes = []
    t0 = time.monotonic()
    while len(passes) < 3 or _fits(t0, seconds, passes[-1]["wall"]):
        passes.append(_extract_pass(plan, rows))
    return passes


def _fits(t0: float, seconds: float, last: float) -> bool:
    """Whether one more unit as long as the last ends within the budget."""
    return time.monotonic() - t0 + last <= seconds


# ---------------------------------------------------------------------------
# Untraced runs: end-to-end metrics
# ---------------------------------------------------------------------------


def crawl_end_to_end(wl: Workload, inputs: str, seconds: float) -> dict:
    with PeakRss() as rss:
        spark, session_s = _session(CORES)
        try:
            # three constructions on a fresh state dir; the last one crawls
            built = [_construct(spark, wl, inputs) for _ in range(3)]
            eng = built[-1][0]
            setup_s = session_s + statistics.median(secs for _e, secs in built)
            units, failures = [], []
            t0 = time.monotonic()
            while True:
                units.append(_crawl(eng))
                failures.append(_check_crawl(eng, inputs))
                if not _fits(t0, seconds, units[-1]["wall"]):
                    break
                eng, _ = _construct(spark, wl, inputs)
        finally:
            spark.stop()
    steps = [secs for u in units for _a, _b, secs, _i in u["steps"]]
    return _result(
        failures,
        {
            "setup_s": setup_s,
            "wall_s": statistics.median(u["wall"] for u in units),
            "pages_per_s": statistics.median(u["pages"] / u["wall"] for u in units),
            "step_s.p50": statistics.median(steps),
            "step_s.p90": _p90(steps),
            "cpu_s": statistics.median(u["cpu"] for u in units),
            "peak_rss_mb": rss.peak_mb,
        },
        END_TO_END,
    )


def _extract_setup(spark, path: str):
    """Three builds of the extract plan over every input file, the column
    analysis a caller of extract_details pays before any data moves:
    (seconds of each build, the last plan)."""
    _extract_layout(spark, path)
    secs = []
    for _ in range(3):
        t0 = clock()
        plan = _extract_plan(spark, path)
        secs.append(clock() - t0)
    return secs, plan


def extract_end_to_end(path: str, rows: int, seconds: float) -> dict:
    with PeakRss() as rss:
        spark, session_s = _session(CORES)
        try:
            setup, plan = _extract_setup(spark, path)
            passes = _extract_passes(plan, rows, seconds)
        finally:
            spark.stop()
    walls = [p["wall"] for p in passes]
    return _result(
        [p["bad"] for p in passes],
        {
            "setup_s": session_s + statistics.median(setup),
            "wall_s": statistics.median(walls),
            "pages_per_s": statistics.median(rows / w for w in walls),
            "step_s.p50": statistics.median(walls),
            "step_s.p90": _p90(walls),
            "cpu_s": statistics.median(p["cpu"] for p in passes),
            "peak_rss_mb": rss.peak_mb,
        },
        END_TO_END,
    )


# ---------------------------------------------------------------------------
# Traced runs: per-layer metrics
# ---------------------------------------------------------------------------


def _spark_totals(jobs, per: int = 1) -> dict:
    return {
        "spark.jobs": len(jobs) / per,
        "spark.tasks": sum(j.tasks for j in jobs) / per,
        "spark.executor_cpu_s": sum(j.cpu_s for j in jobs) / per,
        "spark.scheduler_delay_s": sum(j.scheduler_delay_s for j in jobs) / per,
        "spark.shuffle_write_bytes": sum(j.shuffle_write_bytes for j in jobs) / per,
    }


def _dir_size(path: str) -> tuple[int, int]:
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


def _wrap_layers(timer) -> None:
    from crawler_spark.bloom import PartitionedBloom
    from crawler_spark.statestore import StateStore

    for m in ("write_frontier", "compact", "commit"):
        timer.wrap(StateStore, m, lambda a, k, m=m: f"statestore.{m}_s")
    timer.wrap(
        StateStore,
        "write_delta",
        lambda a, k: "statestore.write_delta_s." + (a[1] if len(a) > 1 else k["table"]),
    )
    for m in ("add_many", "build_deltas", "save"):
        timer.wrap(PartitionedBloom, m, lambda a, k, m=m: f"bloom.{m}_s")


def crawl_traced(wl: Workload, inputs: str) -> dict:
    spark, _ = _session(CORES, event_log=True)
    try:
        eng, _ = _construct(spark, wl, inputs)
        log_cpu = jvm_thread_cpu_s(spark, EVENT_LOG_THREAD)
        with LayerTimer() as timer:
            _wrap_layers(timer)
            unit = _crawl(eng)
        log_cpu = jvm_thread_cpu_s(spark, EVENT_LOG_THREAD) - log_cpu
        bad = _check_crawl(eng, inputs)
        fill, k = eng.bloom.fill_ratio(), eng.bloom.k
        detail_pages = (
            eng.store.read("crawl_log").filter("url like '%/getproductdetail%'").count()
        )
    except BaseException:
        spark.stop()
        raise
    steps = unit["steps"]
    lo, hi = steps[0][0] * 1e3, steps[-1][1] * 1e3
    jobs = [j for j in read_jobs(_stop_for_log(spark)) if lo <= j.start_ms <= hi]

    values: dict = {"engine.untagged_jobs": 0}
    per_step = {s: 0 for s in range(1, len(steps) + 1)}
    for j in jobs:
        if j.phase is None:
            values["engine.untagged_jobs"] += 1
            continue
        per_step[j.superstep] = per_step.get(j.superstep, 0) + 1
        phase = j.phase if j.phase in PHASES else "other"
        values[f"engine.jobs.{phase}"] = values.get(f"engine.jobs.{phase}", 0) + 1
        values[f"engine.job_s.{phase}"] = values.get(f"engine.job_s.{phase}", 0) + j.secs
    detail = [j for j in jobs if j.phase == "detail_materialize"]
    state_bytes, state_files = _dir_size(STATE)
    values.update(
        {
            "engine.supersteps": len(steps),
            "engine.jobs_per_superstep": statistics.median(per_step.values()),
            "engine.driver_only_s": statistics.median(
                (b - a) - covered_s(jobs, a * 1e3, b * 1e3) for a, b, _s, _i in steps
            ),
            **timer.secs,
            "statestore.bytes": state_bytes,
            "statestore.files": state_files,
            "bloom.fill_ratio": fill,
            "bloom.fpp_est": fill**k,
            "succ.s": values.get("engine.job_s.succ_dedup", 0)
            + values.get("engine.job_s.frontier", 0),
            "extract.detail_s": sum(j.secs for j in detail),
            "extract.cpu_us_per_page": 1e6
            * sum(j.cpu_s for j in detail)
            / max(1, detail_pages),
            "extract.tasks": sum(j.tasks for j in detail),
            "politeness.take_s": statistics.median(
                i["phases"]["politeness"] for _a, _b, _s, i in steps
            ),
            "politeness.batch_pages": statistics.median(
                i["fetched"] for _a, _b, _s, i in steps
            ),
            **_spark_totals(jobs),
            "trace.overhead_s": log_cpu,
        }
    )
    return _result([bad], values, PER_LAYER)


def extract_traced(path: str, rows: int, seconds: float) -> dict:
    spark, _ = _session(CORES, event_log=True)
    try:
        _, plan = _extract_setup(spark, path)
        log_cpu = jvm_thread_cpu_s(spark, EVENT_LOG_THREAD)
        traced = _extract_passes(plan, rows, seconds / 2)
        # per pass, the warm-up pass included
        log_cpu = (jvm_thread_cpu_s(spark, EVENT_LOG_THREAD) - log_cpu) / (
            len(traced) + 1
        )
    except BaseException:
        spark.stop()
        raise
    jobs = read_jobs(_stop_for_log(spark))
    spark, _ = _session(1)  # same data at local[1]
    try:
        _, plan = _extract_setup(spark, path)
        serial = _extract_passes(plan, rows, seconds / 2)
    finally:
        spark.stop()
    wall = statistics.median(p["wall"] for p in traced)
    per_pass = [
        [j for j in jobs if a * 1e3 <= j.start_ms <= b * 1e3]
        for a, b in (p["span"] for p in traced)
    ]
    values = {
        "extract.detail_s": wall,
        "extract.cpu_us_per_page": 1e6
        * statistics.median(sum(j.cpu_s for j in p) for p in per_pass)
        / rows,
        "extract.tasks": statistics.median(sum(j.tasks for j in p) for p in per_pass),
        "extract.scaling_eff": statistics.median(p["wall"] for p in serial)
        / (CORES * wall),
        **_spark_totals([j for p in per_pass for j in p], per=len(per_pass)),
        "trace.overhead_s": log_cpu,
    }
    return _result([p["bad"] for p in traced], values, PER_LAYER)


# ---------------------------------------------------------------------------


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "crawler_spark", "engine.py")):
        sys.exit(
            f"perfbench: no crawler_spark package under {ROOT}; "
            "run from the root of a full checkout"
        )
    _prepare_env()
    import corpus
    from crawler_spark.fixtures import CorpusSpec

    wl = WORKLOADS[args.workload]
    spec = CorpusSpec(**wl.spec)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "corpus": wl.spec}))
    sys.stdout.flush()
    try:
        if wl.copies:
            path, rows = corpus.extract_inputs(
                spec, args.seed, WORK, wl.copies, wl.files
            )
            if args.trace:
                result = extract_traced(path, rows, args.seconds)
            else:
                result = extract_end_to_end(path, rows, args.seconds)
        else:
            inputs = corpus.crawl_inputs(
                spec, args.seed, WORK, wl.engine["max_supersteps"]
            )
            if args.trace:
                result = crawl_traced(wl, inputs)
            else:
                result = crawl_end_to_end(wl, inputs, args.seconds)
    finally:
        _stop_jvm()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
