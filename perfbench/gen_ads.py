"""Seeded raw-ad generator for the ETL workloads.

Builds raw ad records (``schemas.RAW_SCHEMA`` layout) from the 500-doc
HTML corpus in ``fixtures/html_corpus.parquet`` and a generated
479-row site-map CSV shaped like the reference's ``params/URLs.csv``.
The rates are fixed and known:

- ``DUP_RATE`` of the rows are exact re-scrapes: a copy of an earlier
  ad's whole record (same key, same HTML, same URL, same scrape time).
  The copy lands at a random position, so copies fall both in the
  original's file and in other files.
- ``UNKNOWN_SITE_RATE`` of the distinct ads use a ``site_id`` that is
  not in the site map.
- Unparseable post dates come from the corpus itself: about 7% of its
  docs have no ``div.adInfo`` date. Which docs those are is read from
  ``fixtures/html_golden.parquet``, the corpus's independently parsed
  extractions, and the date parse is redone here with ``strptime``.

From these the generator derives the counts a correct pipeline must
produce (clean rows, quarantined rows by reason, rows kept by
``conform``). It never runs the engine, so the counts are an
independent check.
"""

from __future__ import annotations

import csv
import os
import re
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_SITES = 479
DUP_RATE = 0.08
UNKNOWN_SITE_RATE = 0.03
CATEGORIES = ("femaleescorts", "bodyrubs", "datelines", "musicians", "autos", "jobs")
SCRAPE_START = datetime(2016, 1, 1)

_REGIONS = {
    "Northeast": ("New England", "Middle Atlantic"),
    "Midwest": ("East North Central", "West North Central"),
    "South": ("South Atlantic", "East South Central", "West South Central"),
    "West": ("Mountain", "Pacific"),
}
_STATES = ("AL", "AZ", "CA", "CO", "FL", "GA", "IL", "MA", "MI", "NY", "OH", "TX", "WA")

AD_TYPE = pa.struct(
    [
        ("scrape_date", pa.string()),
        ("code", pa.int32()),
        ("url", pa.string()),
        ("read", pa.string()),
        ("uniq_id", pa.string()),
    ]
)


def parse_post_date(raw: str | None) -> datetime | None:
    """The reference's verbose-date parse: strptime with
    '%A, %B %d, %Y %I:%M %p'. The weekday is dropped first, as the
    engine does; the reference never checked it against the date."""
    if raw is None:
        return None
    try:
        return datetime.strptime(re.sub(r"^[A-Za-z]+, ", "", raw), "%B %d, %Y %I:%M %p")
    except ValueError:
        return None


def site_ids() -> list[str]:
    return [f"s{i:03d}" for i in range(N_SITES)]


def write_site_map(path: str, rng: np.random.Generator) -> None:
    """479 rows with the reference's header, one per known site_id."""
    regions = list(_REGIONS)
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["Backpage ID", "City", "State", "Region", "Division", "URL"])
        for sid in site_ids():
            region = regions[int(rng.integers(len(regions)))]
            divisions = _REGIONS[region]
            w.writerow([
                sid,
                f"City {sid}",
                _STATES[int(rng.integers(len(_STATES)))],
                region,
                divisions[int(rng.integers(len(divisions)))],
                f"http://{sid}.example.com/",
            ])


SITE_MAP_COLUMNS = {
    "Backpage ID": "site_id",
    "City": "city",
    "State": "state",
    "Region": "region",
    "Division": "division",
    "URL": "url",
}


def load_corpus(repo_root: str) -> tuple[list[str], list[datetime | None]]:
    """Corpus HTML by k, and each doc's post date as the golden
    extraction parses it (None when the doc has no parseable date)."""
    fx = os.path.join(repo_root, "fixtures")
    corpus = pq.read_table(os.path.join(fx, "html_corpus.parquet")).sort_by("k")
    golden = pq.read_table(os.path.join(fx, "html_golden.parquet")).sort_by("k")
    if corpus.column("k").to_pylist() != golden.column("k").to_pylist():
        raise ValueError("html corpus and golden fixture disagree on doc keys")
    dates = [parse_post_date(v) for v in golden.column("post_date_raw").to_pylist()]
    return corpus.column("html").to_pylist(), dates


def generate(
    out_dir: str, repo_root: str, seed: int, n_rows: int, n_files: int
) -> dict:
    """Write ``n_files`` raw parquet files (``raw/part-NNNNN.parquet``)
    and ``site_map.csv`` under ``out_dir``; return the expected counts
    and the generation facts."""
    rng = np.random.default_rng(seed)
    html, dates = load_corpus(repo_root)
    os.makedirs(os.path.join(out_dir, "raw"), exist_ok=True)
    site_map_path = os.path.join(out_dir, "site_map.csv")
    write_site_map(site_map_path, rng)

    n_dups = int(round(n_rows * DUP_RATE))
    n_ads = n_rows - n_dups
    doc = rng.integers(0, len(html), n_ads)
    sites = np.array(site_ids())[rng.integers(0, N_SITES, n_ads)]
    unknown = rng.random(n_ads) < UNKNOWN_SITE_RATE
    sites = np.where(unknown, np.char.add("z", sites), sites)
    cats = np.array(CATEGORIES)[rng.integers(0, len(CATEGORIES), n_ads)]
    ad_ids = 1_000_000 + rng.permutation(n_ads * 4)[:n_ads]
    scrape_s = np.sort(rng.integers(0, 365 * 24 * 3600, n_ads))

    keys = np.array(
        [f"{a}-{s}-{c}" for a, s, c in zip(ad_ids.tolist(), sites.tolist(), cats.tolist())],
        dtype=object,
    )
    scraped = np.array(
        [
            (SCRAPE_START + timedelta(seconds=int(s))).strftime("%Y-%m-%d %H:%M:%S")
            for s in scrape_s
        ],
        dtype=object,
    )
    urls = np.array(
        [
            f"http://{s}.example.com/{c}/x/{a}"
            for a, s, c in zip(ad_ids.tolist(), sites.tolist(), cats.tolist())
        ],
        dtype=object,
    )
    reads = np.array(html, dtype=object)[doc]

    # exact re-scrapes of random earlier ads, then one global shuffle so
    # copies land both beside and far from their originals
    order = np.concatenate([np.arange(n_ads), rng.integers(0, n_ads, n_dups)])
    order = order[rng.permutation(n_rows)]

    per_file = -(-n_rows // n_files)
    for f in range(n_files):
        idx = order[f * per_file : (f + 1) * per_file]
        key = pa.array(keys[idx], pa.string())
        ad = pa.StructArray.from_arrays(
            [
                pa.array(scraped[idx], pa.string()),
                pa.array(np.full(len(idx), 200), pa.int32()),
                pa.array(urls[idx], pa.string()),
                pa.array(reads[idx], pa.string()),
                key,
            ],
            fields=list(AD_TYPE),
        )
        table = pa.table({
            "id": pa.array(np.arange(f * per_file, f * per_file + len(idx)), pa.int64()),
            "uniq_id": key,
            "ad": ad,
        })
        pq.write_table(table, os.path.join(out_dir, "raw", f"part-{f:05d}.parquet"))

    # expected outcome per distinct ad; a row is quarantined for an
    # unknown site first, an unparseable date second (validate_batch)
    bad_site = unknown
    bad_date = np.array([dates[d] is None for d in doc]) & ~bad_site
    good = ~bad_site & ~bad_date
    copies = np.bincount(order, minlength=n_ads)
    first_scrape = min(
        SCRAPE_START + timedelta(seconds=int(scrape_s[i])) for i in np.flatnonzero(good)
    )
    conform_kept = sum(1 for i in np.flatnonzero(good) if dates[doc[i]] >= first_scrape)
    return {
        "raw_rows": n_rows,
        "files": n_files,
        "distinct_ads": n_ads,
        "rescrape_rows": n_dups,
        "clean_rows": int(good.sum()),
        "quarantine_rows": int(copies[~good].sum()),
        "quarantine_unknown_site_id": int(copies[bad_site].sum()),
        "quarantine_unparseable_post_date": int(copies[bad_date].sum()),
        "conform_rows": int(conform_kept),
        "site_map_path": site_map_path,
        "raw_dir": os.path.join(out_dir, "raw"),
    }
