"""Seeded benchmark inputs: the crawl corpus, its oracle answer, and the
extract-pass input.

The repository's fixture generator (``crawler_spark.fixtures``) keys every
page body on a stable per-entity hash that no seed reaches. The benchmark
salts that hash with ``--seed`` while it generates, so each seed yields
different page bytes (brands, prices, names, spec tables, image lists,
which ring variant fails) over the same URL graph. The crawl shape -- URL
set, superstep count, pages per superstep -- stays fixed, so every seed
runs the same workload.

Inputs are cached per (spec, seed) under the work directory, so a seed
that repeats does not pay generation again. Generation is never inside a
timed region.
"""

from __future__ import annotations

import json
import os
import shutil
import zlib
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq

from crawler_spark import fixtures as fx, oracle
from crawler_spark.urltools import registrable_domain

_FORMAT = "v1"  # bump when the generated bytes change


@contextmanager
def _salted_hash(seed: int):
    orig = fx._h

    def salted(*parts) -> int:
        return zlib.crc32("|".join(str(p) for p in (seed, *parts)).encode("utf-8"))

    fx._h = salted
    try:
        yield
    finally:
        fx._h = orig


def _dir(work: str, spec: fx.CorpusSpec, seed: int, what: str) -> str:
    return os.path.join(
        work,
        "inputs",
        f"h{spec.n_hosts}-p{spec.n_products}-l{spec.leaves_per_host}"
        f"-seed{seed}-{what}-{_FORMAT}",
    )


def crawl_inputs(spec: fx.CorpusSpec, seed: int, work: str, supersteps: int) -> str:
    """Write the corpus for ``seed`` and ``oracle.json``, the oracle's
    first ``supersteps`` supersteps at a 1 h budget; return the dir."""
    out = _dir(work, spec, seed, f"crawl{supersteps}")
    done = os.path.join(out, "oracle.json")
    if os.path.exists(done):
        return out
    shutil.rmtree(out, ignore_errors=True)
    with _salted_hash(seed):
        corpus = fx.build_corpus(spec, registrable_domain)
        fx.write_corpus(corpus, out)
    gold = oracle.simulate_crawl(
        corpus.pages,
        corpus.seeds,
        corpus.robots,
        registrable_domain,
        budget_ms=3_600_000,
        max_k=500_000,
        max_supersteps=supersteps,
    )
    with open(done + ".tmp", "w") as f:
        json.dump(
            {
                "crawl_order": gold.crawl_order,
                "url_seen": sorted(gold.url_seen),
                "text_by_url": gold.text_by_url,
                "supersteps": gold.supersteps,
            },
            f,
        )
    os.replace(done + ".tmp", done)
    return out


def extract_inputs(
    spec: fx.CorpusSpec, seed: int, work: str, copies: int, files: int
) -> tuple[str, int]:
    """Write the corpus's detail pages, ``copies`` times over, as ``files``
    parquet files of one row group each (one scan task per file at any
    ``local[N]``). Return (parquet dir, rows)."""
    out = _dir(work, spec, seed, f"details-c{copies}-f{files}")
    pages = os.path.join(out, "pages")
    done = os.path.join(out, "rows.json")
    if os.path.exists(done):
        with open(done) as f:
            return pages, json.load(f)["rows"]
    shutil.rmtree(out, ignore_errors=True)
    with _salted_hash(seed):
        corpus = fx.build_corpus(spec, registrable_domain)
        urls = sorted(u for u in corpus.pages if "/getproductdetail" in u)
        ts = [fx.warc_ts(u) for u in urls]
    details = pa.table(
        {
            "url": urls,
            "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "html": pa.array([corpus.pages[u] for u in urls], pa.binary()),
            "text": [corpus.text[u] for u in urls],
            "lang": [corpus.lang[u] for u in urls],
        }
    )
    rows = details.num_rows * copies
    per_file = -(-rows // files)
    order = [i % details.num_rows for i in range(rows)]
    os.makedirs(pages)
    for k in range(files):
        part = details.take(order[k * per_file : (k + 1) * per_file])
        pq.write_table(
            part,
            os.path.join(pages, f"part-{k:03d}.parquet"),
            row_group_size=max(1, part.num_rows),
        )
    with open(done, "w") as f:
        json.dump({"rows": rows}, f)
    return pages, rows
