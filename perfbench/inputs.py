"""Seeded benchmark inputs, generated once per (workload, seed, scale) and
cached under ``.perfbench/inputs``.

Relational tables, documents and embeddings come from
``scripts/gen_benchdata.gen`` (imported by path, unedited; its ``BASE`` seed
global is read at call time, so setting it selects the seed). On top of
those tables this module adds what that generator has no notion of:

- HTML listing snapshot pages, with a seeded share of re-scraped URLs (the
  same page fetched twice on one day);
- near-duplicate documents (a seeded share of documents replaced by a
  copy of an earlier document with one token changed);
- the 80/20 ANN growth split and the seeded ANN query vectors.

Generation runs before the session starts, outside every timed window and
outside ``setup_s``.
"""

from __future__ import annotations

import contextlib
import importlib.util
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench", "inputs")

# Input sizes per workload: "full" is what the benchmark measures, "tiny"
# (sf0.001) is the self-check's.
SIZES = {
    "full": {
        "sql_mix": {"sf": 0.1},
        "corpus_etl": {"docs": 1000, "pages": 240},
        "ann_lifecycle": {"vectors": 400},
    },
    "tiny": {
        "sql_mix": {"sf": 0.001},
        "corpus_etl": {"docs": 50, "pages": 12},
        "ann_lifecycle": {"vectors": 100},
    },
}

CITIES = ["Austin", "Dallas", "Houston", "Plano", "Irving", "Waco", "Frisco", "Tyler"]
DATES = ["2020-05-01", "2020-05-02", "2020-05-03"]
ANN_QUERIES = 256  # seeded query vectors per run; serving draws them in order
SQL_MIX_TABLES = ["lineitem", "orders", "customer", "part", "documents", "events"]


def _gen_module():
    path = os.path.join(ROOT, "scripts", "gen_benchdata.py")
    spec = importlib.util.spec_from_file_location("_perfbench_gen_benchdata", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _gen_tables(seed: int, sf: float, out: str) -> None:
    gen = _gen_module()
    gen.BASE = seed
    with contextlib.redirect_stdout(sys.stderr):  # stdout carries only the result
        gen.gen(sf, out)


def _page(rng: np.random.Generator, i: int) -> tuple[str, str]:
    """One listing page in the markup sources.html_extract parses."""
    city = CITIES[int(rng.integers(len(CITIES)))]
    rows = []
    for u in range(int(rng.integers(1, 5))):
        lo = int(rng.integers(40, 120)) * 10
        sqft = f"{lo:,} sqft" if rng.random() < 0.8 else f"{lo}-{lo + 200} sqft"
        price = int(rng.integers(60, 300)) * 10
        price_s = f"${price:,}" + ("+" if rng.random() < 0.3 else "")
        if rng.random() < 0.1:  # price-range rows are dropped by cleaning
            price_s = f"${price:,}-${price + 100:,}"
        bed = "Studio" if rng.random() < 0.15 else f"{int(rng.integers(1, 4))}bd"
        bath = f"{int(rng.integers(1, 3))}ba"
        rows.append(
            f'<tr><td><div color="highlight">U{u}</div></td>'
            f'<td class="FloorPlanTable__FloorPlanSMCell-sc-1ghu3y7-8">x</td>'
            f'<td class="FloorPlanTable__FloorPlanSMCell-sc-1ghu3y7-8">{price_s}</td>'
            f'<td class="FloorPlanTable__FloorPlanFloorSpaceCell-sc-1ghu3y7-5">{sqft}</td>'
            f'<td class="FloorPlanTable__FloorPlanFeaturesCell-sc-1ghu3y7-4">{bed}</td>'
            f'<td class="FloorPlanTable__FloorPlanFeaturesCell-sc-1ghu3y7-4">{bath}</td></tr>'
        )
    html = (
        "<html><body>"
        f'<span data-testid="home-details-summary-headline">Listing {i}</span>'
        f'<span data-testid="home-details-summary-city-state">{i} Main St</span>'
        f'<span data-testid="home-details-summary-city-state">{city}, TX 787{i % 100:02d}</span>'
        '<div data-testid="home-description-text-description-text">Nice place</div>'
        '<ul><li class="FeatureList__FeatureListItem-iipbki-0">Pool</li></ul>'
        f'<table data-testid="floor-plan-group"><tbody>{"".join(rows)}</tbody></table>'
        "</body></html>"
    )
    return f"http://listings.example/{i}", html


def _snapshots(rng: np.random.Generator, n_pages: int, dup_share: float, out: str) -> None:
    urls, htmls, dates = [], [], []
    for i in range(n_pages):
        url, html = _page(rng, i)
        urls.append(url)
        htmls.append(html)
        dates.append(DATES[int(rng.integers(len(DATES)))])
    # re-scrapes: the same page fetched again on the same day
    for i in rng.choice(n_pages, int(round(dup_share * n_pages)), replace=False):
        urls.append(urls[i])
        htmls.append(htmls[i])
        dates.append(dates[i])
    order = rng.permutation(len(urls))
    pq.write_table(
        pa.table({
            "url": [urls[i] for i in order],
            "html": [htmls[i] for i in order],
            "fetch_date": [dates[i] for i in order],
        }),
        os.path.join(out, "snapshots.parquet"),
    )


def _near_dup_documents(rng: np.random.Generator, dup_share: float, out: str) -> None:
    """Replace a share of documents by an earlier document with one token
    swapped, so the near-dup stages have real pairs to find."""
    path = os.path.join(out, "documents.parquet")
    t = pq.read_table(path)
    texts = t.column("text").to_pylist()
    n = len(texts)
    vocab = sorted({w for s in texts for w in s.split(" ")})
    for i in rng.choice(np.arange(n // 2, n), int(round(dup_share * n)), replace=False):
        words = texts[int(rng.integers(0, n // 2))].split(" ")
        words[int(rng.integers(len(words)))] = vocab[int(rng.integers(len(vocab)))]
        texts[i] = " ".join(words)
    t = t.set_column(t.schema.get_field_index("text"), "text", pa.array(texts))
    t = t.set_column(
        t.schema.get_field_index("n_chars"), "n_chars",
        pa.array([len(s) for s in texts], pa.int64()),
    )
    pq.write_table(t, path)


def _ann_queries(rng: np.random.Generator, out: str) -> None:
    """Seeded query vectors near the corpus distribution: a random corpus
    vector plus noise, renormalized (the corpus vectors are ~unit norm)."""
    emb = pq.read_table(os.path.join(out, "embeddings.parquet"))
    vecs = np.array(emb.column("embedding").to_pylist(), dtype=np.float64)
    picks = vecs[rng.integers(0, len(vecs), ANN_QUERIES)]
    q = picks + rng.normal(0.0, 0.05, picks.shape)
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    np.save(os.path.join(out, "queries.npy"), q)


def _split_layout(src: str, dst: str, tables: list[str], min_bytes: int) -> None:
    """Multi-file layout of the generated single-file tables, so scans split
    across the four cores (bench.py's ingest layout): each table over
    ``min_bytes`` becomes a directory of four files of contiguous rows;
    smaller tables are copied as they are."""
    os.makedirs(dst, exist_ok=True)
    for t in tables:
        path = os.path.join(src, f"{t}.parquet")
        if os.path.getsize(path) <= min_bytes:
            shutil.copy(path, os.path.join(dst, f"{t}.parquet"))
            continue
        table = pq.read_table(path)
        os.makedirs(os.path.join(dst, f"{t}.parquet"))
        step = -(-table.num_rows // 4)
        for i in range(4):
            pq.write_table(table.slice(i * step, step),
                           os.path.join(dst, f"{t}.parquet", f"part-{i:05d}.parquet"))


def _ann_split(src: str, dst: str) -> None:
    """The 80% base corpus and the 20% growth batch (``vec_id % 10 < 8``),
    with the embeddings as doubles, in the engine's ``(vec_id, v)`` shape."""
    emb = pq.read_table(os.path.join(src, "embeddings.parquet"), columns=["vec_id", "embedding"])
    vecs = pa.table({"vec_id": emb.column("vec_id"),
                     "v": emb.column("embedding").cast(pa.list_(pa.float64()))})
    base = vecs.column("vec_id").to_numpy() % 10 < 8
    for part, mask in (("base", base), ("growth", ~base)):
        os.makedirs(os.path.join(dst, part))
        pq.write_table(vecs.filter(mask), os.path.join(dst, part, "part-00000.parquet"))


def _build(workload: str, seed: int, size: dict, out: str) -> dict:
    rng = np.random.default_rng([seed, 7])
    meta: dict = {"seed": seed}
    timed, layout = os.path.join(out, "timed"), os.path.join(out, "layout")
    if workload == "sql_mix":
        _gen_tables(seed, size["sf"], timed)
        _split_layout(timed, layout, SQL_MIX_TABLES, 1_000_000)
        meta["order_seed"] = int(rng.integers(2**31))
    elif workload == "corpus_etl":
        dup = float(rng.uniform(0.15, 0.25))
        meta["dup_share"] = dup
        _gen_tables(seed, size["docs"] / 50_000, timed)
        _near_dup_documents(rng, dup / 2, timed)
        _snapshots(rng, size["pages"], dup, timed)
        _split_layout(timed, layout, ["documents"], 0)
        shutil.copy(os.path.join(timed, "snapshots.parquet"), layout)
    elif workload == "ann_lifecycle":
        _gen_tables(seed, size["vectors"] / 20_000, timed)
        _ann_queries(rng, timed)
        _ann_split(timed, layout)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return meta


def ensure_inputs(workload: str, seed: int, scale: str) -> tuple[str, dict]:
    """Return (input dir, metadata) for the seed, generating on first use.
    The directory's ``timed/`` subdirectory holds single-file parquet
    tables named as the engine's catalog expects (what the output checks
    read), and ``layout/`` the multi-file layout the timed ops read."""
    out = os.path.join(CACHE, f"{workload}-{scale}-seed{seed}")
    stamp = os.path.join(out, "_META.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            return out, json.load(fh)
    tmp = f"{out}.tmp-{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    meta = _build(workload, seed, SIZES[scale][workload], tmp)
    with open(os.path.join(tmp, "_META.json"), "w") as fh:
        json.dump(meta, fh)
    try:
        os.rename(tmp, out)
    except OSError:  # another run cached the same seed first
        shutil.rmtree(tmp, ignore_errors=True)
    with open(stamp) as fh:
        return out, json.load(fh)
