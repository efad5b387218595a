"""Seeded input generator for the benchmark — numpy + pyarrow, no Spark.

The benchmark owns its inputs: the engine's own ``datagen`` may change
freely without moving a workload. Each workload's input is pinned by row
count and content digest (``spec.json`` next to the parquet), and the
cache key includes this file's own digest, so an edit here regenerates
instead of silently reusing stale data.

Pages carry the engine's five core columns (url, warc_ts, html, text,
lang) plus ``domain``. Injected regimes, each confined to a known window:

* hot-domain skew: ``HOT`` carries ~25 % of rows,
* duplicate-url burst in ``DUP_WIN`` (a re-crawl: the whole row repeats),
* null timestamps, ~0.5 % of rows scattered over the table,
* null-text burst in ``NULL_WIN``,
* text-length shift in ``LEN_WIN``,
* language-histogram shift in ``LANG_WIN``,
* dangling domains (absent from the dimension) in ``REF_WIN``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DUP_WIN = 29
NULL_WIN = 33
LEN_WIN = 37
LANG_WIN = 41
REF_WIN = 44

HOT = "hot.example.com"
N_COLD = 120
N_DANGLING = 7
DAY_S = 86400
START_S = 1735689600  # 2025-01-01T00:00:00Z, a whole day on the epoch grid

_WORDS = (
    "the quick brown fox jumps over lazy dog data page crawl web spark "
    "engine check drift series window value score filter median spectral "
    "residual anomaly margin boundary unit verdict violation table column "
    "schema null rate quantile histogram distinct domain path html text"
).split()
_POOL = " ".join(_WORDS[(i * 7) % len(_WORDS)] for i in range(1600))
_LANGS = np.array(["en", "de", "fr", "zh", "es"], dtype=object)
_BASE_P = [0.60, 0.15, 0.10, 0.10, 0.05]
_DRIFT_P = [0.20, 0.15, 0.10, 0.50, 0.05]


def cold_domain(i: int) -> str:
    return f"site-{i:03d}.example.org"


def domain_names() -> list[str]:
    """The referential dimension: hot + every cold domain."""
    return [HOT] + [cold_domain(i) for i in range(N_COLD)]


def generator_digest() -> str:
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def _texts(rng: np.random.Generator, wid: np.ndarray) -> np.ndarray:
    n = len(wid)
    length = np.where(
        wid == LEN_WIN,
        900 + rng.integers(0, 1200, n),
        120 + rng.integers(0, 360, n),
    )
    off = rng.integers(0, len(_POOL) - 2100, n)
    return np.array(
        [_POOL[o : o + k] for o, k in zip(off.tolist(), length.tolist())],
        dtype=object,
    )


def pages(n_rows: int, n_windows: int, seed: int) -> pa.Table:
    """One pages table; every column a pure function of (seed, sizes)."""
    if n_windows <= REF_WIN:
        raise ValueError(f"need more than {REF_WIN} windows")
    rng = np.random.default_rng(seed)
    ids = np.arange(n_rows, dtype=np.int64)
    wid = ids % n_windows

    roll = rng.random(n_rows)
    dom = np.where(
        roll < 0.25, HOT, np.array([cold_domain(i) for i in range(N_COLD)],
                                   dtype=object)[rng.integers(0, N_COLD, n_rows)]
    ).astype(object)
    dangling = (wid == REF_WIN) & (rng.random(n_rows) < 0.03)
    dom[dangling] = np.array(
        [f"dangling-{k}.invalid" for k in range(N_DANGLING)], dtype=object
    )[rng.integers(0, N_DANGLING, int(dangling.sum()))]

    ts = START_S + wid * DAY_S + rng.integers(0, DAY_S, n_rows)
    text = _texts(rng, wid)
    lang = np.where(
        wid == LANG_WIN,
        _LANGS[rng.choice(5, n_rows, p=_DRIFT_P)],
        _LANGS[rng.choice(5, n_rows, p=_BASE_P)],
    )
    text_null = (wid == NULL_WIN) & (rng.random(n_rows) < 0.15)
    ts_null = rng.random(n_rows) < 0.005

    # re-crawl burst: half of DUP_WIN repeats the row one stride earlier
    # (same window), so the url duplicates inside one domain partition
    src = ids.copy()
    dup = (wid == DUP_WIN) & (ids >= n_windows) & (rng.random(n_rows) < 0.5)
    src[dup] = ids[dup] - n_windows
    dom = dom[src]
    ts, text, lang = ts[src], text[src], lang[src]
    text_null, ts_null = text_null[src], ts_null[src]
    url = np.array(
        [f"https://{d}/w{w}/p{i}" for d, w, i in
         zip(dom.tolist(), wid[src].tolist(), src.tolist())],
        dtype=object,
    )
    html = [f"<html><body><p>{t}</p></body></html>".encode() for t in text]
    text = np.where(text_null, None, text)

    return pa.table(
        {
            "url": pa.array(url, pa.string()),
            "warc_ts": pa.array(
                ts * 1_000_000, pa.timestamp("us", tz="UTC"), mask=ts_null
            ),
            "html": pa.array(html, pa.binary()),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(lang, pa.string()),
            "domain": pa.array(dom, pa.string()),
        }
    )


def churn(table: pa.Table, seed: int, share: float = 0.05):
    """The next day's snapshot: ``share`` of the cold domains get new
    text (and html) on every row; the hot domain is never touched.
    Returns (new table, sorted churned domain list)."""
    rng = np.random.default_rng(seed + 1_000_003)
    k = max(1, round(N_COLD * share))
    churned = sorted(cold_domain(int(i)) for i in rng.choice(N_COLD, k, replace=False))
    hit = np.isin(np.asarray(table["domain"].to_pylist(), dtype=object), churned)
    text = table["text"].to_pylist()
    html = table["html"].to_pylist()
    for i in np.flatnonzero(hit).tolist():
        if text[i] is not None:
            text[i] = text[i] + " revised"
            html[i] = f"<html><body><p>{text[i]}</p></body></html>".encode()
    new = table.set_column(
        table.schema.get_field_index("text"), "text", pa.array(text, pa.string())
    ).set_column(
        table.schema.get_field_index("html"), "html", pa.array(html, pa.binary())
    )
    return new, churned


def table_digest(table: pa.Table) -> str:
    """Content digest of a generated table, independent of file layout."""
    h = hashlib.sha256()
    for name in sorted(table.column_names):
        arr = table[name].combine_chunks()
        h.update(name.encode())
        h.update(np.packbits(arr.is_null().to_numpy(zero_copy_only=False)))
        if pa.types.is_timestamp(arr.type):
            h.update(arr.fill_null(0).cast(pa.int64()).to_numpy())
            continue
        n, off = len(arr), arr.offset
        offsets = np.frombuffer(arr.buffers()[1], np.int32)[off : off + n + 1]
        h.update(offsets - offsets[0])
        h.update(arr.buffers()[2][offsets[0] : offsets[-1]])
    return h.hexdigest()[:16]


def _write_partitioned(table: pa.Table, path: str) -> None:
    """Hive-style ``domain=<value>`` directories, one file each, the
    layout an incremental reader prunes on."""
    doms = np.asarray(table["domain"].to_pylist(), dtype=object)
    body = table.drop_columns(["domain"])
    for d in sorted(set(doms.tolist())):
        part = os.path.join(path, f"domain={d}")
        os.makedirs(part)
        pq.write_table(
            body.filter(pa.array(doms == d)), os.path.join(part, "part-0.parquet")
        )


def materialize(root: str, workload: str, sizes: dict, seed: int) -> dict:
    """Write the workload's inputs under ``root`` (cached by workload,
    seed, sizes and generator digest) and return their spec: paths, row
    counts, content digests and, for snapshot pairs, the churned set."""
    key = hashlib.sha256(
        json.dumps([workload, seed, sizes, generator_digest()]).encode()
    ).hexdigest()[:16]
    out = os.path.join(root, f"{workload}-{key}")
    spec_path = os.path.join(out, "spec.json")
    if os.path.exists(spec_path):
        with open(spec_path) as f:
            return dict(json.load(f), dir=out)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)

    table = pages(sizes["rows"], sizes["windows"], seed)
    pq.write_table(
        pa.table({"domain": pa.array(domain_names(), pa.string())}),
        os.path.join(tmp, "domains.parquet"),
    )
    spec = {"workload": workload, "seed": seed, "sizes": sizes,
            "generator": generator_digest()}
    if sizes.get("snapshots"):
        new, churned = churn(table, seed)
        _write_partitioned(table, os.path.join(tmp, "old"))
        _write_partitioned(new, os.path.join(tmp, "new"))
        spec.update(
            old="old", new="new", churned=churned,
            rows=new.num_rows, digest=table_digest(new),
            old_digest=table_digest(table),
        )
    else:
        pq.write_table(table, os.path.join(tmp, "pages.parquet"),
                       row_group_size=64 * 1024)
        spec.update(pages="pages.parquet", rows=table.num_rows,
                    digest=table_digest(table))
    spec["domains"] = "domains.parquet"
    with open(os.path.join(tmp, "spec.json"), "w") as f:
        json.dump(spec, f, indent=1)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return dict(spec, dir=out)
