"""M6: kill/resume exactness — a crawl interrupted after superstep k and
resumed in a fresh engine instance must produce state byte-identical to an
uninterrupted run (checkpoint contract, SURVEY.md §4.2-4 / §7.3-5)."""

from __future__ import annotations

import os
import shutil

import pytest

from crawler_spark.engine import CrawlEngine, EngineConfig
from crawler_spark.statestore import StateStore

CFG = dict(budget_ms=30_000, max_k=1_000)


def _mk(spark, smoke_dir, state, fresh):
    return CrawlEngine(
        spark,
        pages_path=f"{smoke_dir}/pages.parquet",
        seeds_path=f"{smoke_dir}/seeds.parquet",
        robots_path=f"{smoke_dir}/robots.parquet",
        state_dir=state,
        config=EngineConfig(**CFG),
        fresh=fresh,
    )


def _snapshot(spark, eng):
    out = {}
    for table in ("crawl_log", "url_seen", "products", "categories", "brands",
                  "img_cache", "checkpoints"):
        try:
            df = eng.store.read(table)
        except ValueError:
            out[table] = None
            continue
        out[table] = sorted(map(tuple, df.collect()))
    return out


def test_kill_and_resume_identical(spark, smoke_dir, tmp_path):
    ref_state = str(tmp_path / "ref")
    cut_state = str(tmp_path / "cut")

    ref = _mk(spark, smoke_dir, ref_state, fresh=True)
    ref.run(max_supersteps=100)

    # interrupted run: stop after 3 supersteps, simulate a mid-superstep
    # crash by scribbling partial uncommitted deltas, then resume with a
    # brand-new engine instance
    eng = _mk(spark, smoke_dir, cut_state, fresh=True)
    for _ in range(3):
        eng.run_superstep()
    junk = os.path.join(cut_state, "url_seen", "delta-999999")
    os.makedirs(junk, exist_ok=True)
    with open(os.path.join(junk, "part-junk.parquet"), "w") as f:
        f.write("partial write from a killed superstep")
    shutil.copytree(
        os.path.join(cut_state, "frontier"),
        os.path.join(cut_state, "frontier-junkcheck"),
        dirs_exist_ok=True,
    )

    resumed = _mk(spark, smoke_dir, cut_state, fresh=False)
    assert resumed.store.manifest["superstep"] == 3
    assert not os.path.exists(junk), "uncommitted delta must be GC'd on open"
    resumed.run(max_supersteps=100)

    a = _snapshot(spark, ref)
    b = _snapshot(spark, resumed)
    assert a.keys() == b.keys()
    for table in a:
        assert a[table] == b[table], f"{table} differs after resume"


def test_compaction_preserves_state_and_resume(spark, smoke_dir, tmp_path):
    """Compaction (every 2 supersteps) must not change any table's
    contents, and resume across a compaction boundary stays exact."""
    from crawler_spark.engine import CrawlEngine, EngineConfig

    def mk(state, fresh, compact_every):
        return CrawlEngine(
            spark,
            pages_path=f"{smoke_dir}/pages.parquet",
            seeds_path=f"{smoke_dir}/seeds.parquet",
            robots_path=f"{smoke_dir}/robots.parquet",
            state_dir=state,
            config=EngineConfig(compact_every=compact_every, **CFG),
            fresh=fresh,
        )

    plain = mk(str(tmp_path / "plain"), True, 0)
    plain.run(max_supersteps=100)

    cut = mk(str(tmp_path / "cut"), True, 2)
    for _ in range(3):
        cut.run_superstep()
    resumed = mk(str(tmp_path / "cut"), False, 2)
    resumed.run(max_supersteps=100)

    import os

    assert any(
        d.startswith("compact-")
        for d in os.listdir(os.path.join(str(tmp_path / "cut"), "crawl_log"))
    ), "no compaction happened"
    a = _snapshot(spark, plain)
    b = _snapshot(spark, resumed)
    for table in a:
        assert a[table] == b[table], f"{table} differs with compaction"


def test_statestore_rejects_duplicate_delta(spark, tmp_path):
    """Two writes to the same (table, superstep) delta path would
    overwrite each other AND be read twice via the manifest — the store
    must refuse; a distinct suffix keeps same-superstep writes apart
    (the engine uses this for detail- vs category-page img_cache)."""
    import pytest

    from crawler_spark.statestore import StateStore

    store = StateStore(spark, str(tmp_path / "dup-store"), fresh=True)
    df = spark.createDataFrame(
        [("k1", "u1")], "md5_key string, uploaded_url string"
    )
    store.write_delta("img_cache", df, 3)
    with pytest.raises(ValueError, match="duplicate delta"):
        store.write_delta("img_cache", df, 3)
    # distinct suffixes land in distinct dirs and both are readable
    store.write_delta(
        "img_cache",
        spark.createDataFrame(
            [("k2", "u2")], "md5_key string, uploaded_url string"
        ),
        3,
        suffix="cat",
    )
    assert store.read("img_cache").count() == 2


def test_statestore_fences_concurrent_writer(spark, tmp_path):
    """Split-brain fencing at the manifest commit point (VERDICT r2
    item 9): two stores open the same root, both stage writes, the
    first commit lands, the second must REFUSE — and the surviving
    on-disk history must be exactly the winner's, with the loser's
    staged deltas GC'd on the next open like any uncommitted write."""
    import json
    import os

    import pytest

    from crawler_spark.statestore import ConcurrentWriterError, StateStore

    root = str(tmp_path / "fenced")
    mk = lambda md5, url: spark.createDataFrame(
        [(md5, url)], "md5_key string, uploaded_url string"
    )

    a = StateStore(spark, root, fresh=True)
    b = StateStore(spark, root)  # second engine, same state dir

    a.write_delta("img_cache", mk("ka", "ua"), 1)
    b.write_delta("img_cache", mk("kb", "ub"), 1, suffix="b")
    a.commit()

    with pytest.raises(ConcurrentWriterError, match="another engine"):
        b.commit()

    # on-disk manifest is the winner's, untouched by the loser
    with open(os.path.join(root, "manifest.json")) as f:
        manifest = json.load(f)
    assert manifest["commit_seq"] == 1
    assert [os.path.basename(p) for p in manifest["tables"]["img_cache"]] == [
        "delta-000001"
    ]

    # the loser's staged dir exists on disk but is unreferenced, and a
    # fresh open (the resume path) garbage-collects it
    staged = os.path.join(root, "img_cache", "delta-000001-b")
    assert os.path.isdir(staged)
    c = StateStore(spark, root)
    assert not os.path.exists(staged)
    assert [r.md5_key for r in c.read("img_cache").collect()] == ["ka"]

    # the winner keeps committing: seq advances monotonically
    a.write_delta("img_cache", mk("ka2", "ua2"), 2)
    a.commit()
    with open(os.path.join(root, "manifest.json")) as f:
        assert json.load(f)["commit_seq"] == 2

    # ...but c (opened at seq 1) is now fenced out too
    c.write_delta("img_cache", mk("kc", "uc"), 2, suffix="c")
    with pytest.raises(ConcurrentWriterError):
        c.commit()


def test_links_survive_same_superstep_compaction(spark, smoke_dir, tmp_path):
    """Round-5 review finding: the links delta write used to race its
    own table's compaction inside one concurrent tail pool — a lost
    manifest append silently dropped a superstep's edges. The write is
    now ordered before the compaction; a compact-every-superstep crawl
    must record exactly the same edge multiset as a never-compacted
    one."""
    from crawler_spark.engine import CrawlEngine, EngineConfig

    def crawl(state, compact_every):
        eng = CrawlEngine(
            spark,
            pages_path=f"{smoke_dir}/pages.parquet",
            seeds_path=f"{smoke_dir}/seeds.parquet",
            robots_path=f"{smoke_dir}/robots.parquet",
            state_dir=str(tmp_path / state),
            config=EngineConfig(
                budget_ms=600_000,
                max_k=100_000,
                record_links=True,
                compact_every=compact_every,
            ),
            fresh=True,
        )
        eng.run(max_supersteps=4)
        return sorted(
            (r.src_url, r.dst_url, r.kind, r.superstep)
            for r in eng.store.read("links").collect()
        )

    no_compact = crawl("links-nc", compact_every=0)
    every_step = crawl("links-c1", compact_every=1)
    assert no_compact, "record_links recorded nothing"
    assert every_step == no_compact


def test_priority_fp_legacy_crc_manifest_resumes(spark, smoke_dir, tmp_path):
    """Round-5 review finding: the r4→r5 fingerprint format change
    (summed crc32 → xxhash64 xor/sum) must not orphan round-4 state
    dirs — a legacy 'crc' manifest entry is compared via the legacy
    digest, so resuming with the IDENTICAL table succeeds (and a
    different table still refuses)."""
    import json

    import pytest
    from pyspark.sql import functions as F

    from crawler_spark.engine import CrawlEngine, EngineConfig

    pri = spark.createDataFrame(
        [("https://h.net/p/0001", 5.0), ("https://h.net/p/0002", 1.5)],
        "url string, score double",
    )
    state = tmp_path / "legacy-pfp"

    def engine(priority_df, fresh):
        return CrawlEngine(
            spark,
            pages_path=f"{smoke_dir}/pages.parquet",
            seeds_path=f"{smoke_dir}/seeds.parquet",
            robots_path=f"{smoke_dir}/robots.parquet",
            state_dir=str(state),
            priority_df=priority_df,
            config=EngineConfig(budget_ms=3_000, max_k=1_000),
            fresh=fresh,
        )

    eng = engine(pri, fresh=True)
    eng.run(max_supersteps=1)
    eng.store.commit()

    # rewrite the manifest fingerprint to the round-4 legacy form
    legacy = pri.agg(
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
    mp = state / "manifest.json"
    m = json.loads(mp.read_text())
    m["priority_fp"] = {"n": int(legacy["n"]), "crc": int(legacy["crc"])}
    mp.write_text(json.dumps(m))

    # identical table: resumes (and the ctor upgrades the fingerprint)
    engine(pri, fresh=False)
    # different table: still refuses via the legacy digest
    other = spark.createDataFrame(
        [("https://h.net/p/0001", 9.0)], "url string, score double"
    )
    with pytest.raises(ValueError, match="--fresh"):
        engine(other, fresh=False)


def test_cuckoo_era_state_dir_refused(spark, smoke_dir, tmp_path):
    """A state dir whose manifest names the removed cuckoo URL-seen
    filter is refused up front, naming the dir and the way out — not
    left to fail inside the bloom loader."""
    state = str(tmp_path / "cuckoo-era")
    store = StateStore(spark, state, fresh=True)
    store.manifest["seen_filter"] = "cuckoo"
    store.commit()
    with pytest.raises(ValueError, match="--fresh") as err:
        _mk(spark, smoke_dir, state, fresh=False)
    assert state in str(err.value)
