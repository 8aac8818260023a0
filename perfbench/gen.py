"""Seeded input generators for the benchmark.

Both are pure functions of their seed:

* ``mabna(...)`` — the reference's REST collections (FIXTURES.md §1-2):
  trades tables with one daily bar per (instrument, j_date),
  indexvalues, news and the five dimensions, landed as parquet, plus a
  list of per-tick deltas as nested JSON records (the REST payload
  shape: ``{"instrument": {"id": …}, "meta": {"version": …}}``).
* ``documents(...)`` — the curation corpus, landed as one parquet file.

Generation runs before any timed window; the engine only ever sees the
landed files and the delta records.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Jalali month lengths of a common year; 48 months 1400/01 .. 1403/12
_MONTH_DAYS = [31] * 6 + [30] * 5 + [29]
MONTHS = [(y, m) for y in range(1400, 1404) for m in range(1, 13)]
RANGE_START, RANGE_END = "1400/01/01", "1403/12/29"

TRADE_REQUIRED = [
    "date_time", "open_price", "high_price", "low_price", "close_price",
    "close_price_change", "trade_count", "volume", "value", "instrument.id",
]
INDEX_REQUIRED = [
    "date_time", "open_value", "low_value", "high_value", "close_value",
    "close_value_change", "index.id",
]
NEWS_REQUIRED = ["date_time", "title", "text"]
CATEGORIES = ["Equity", "Bond", "Derivative", "Commodity", "FX", "Crypto"]
EXCHANGES = ["TSE", "IFB", "IME"]
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


@dataclass(frozen=True)
class MabnaParams:
    """Named generator parameters (recorded in BENCHMARK.json's side
    file ``perfbench/workloads.json``)."""

    # one of the eight reference types: every type runs the same
    # per-table plan, so more types repeat the same jobs, and each table
    # costs ~3 s of a tick on 4 cores, so more types only lengthen a run
    types: tuple[str, ...] = ("share",)
    history_rows_per_type: int = 6000
    delta_rows_per_tick: int = 200      # per trades table
    current_month_share: float = 0.99   # delta rows landing in the last month
    redelivery_share: float = 0.3       # delta rows re-delivering an existing key
    null_share: float = 0.005           # rows with one required column NULL
    div_zero_share: float = 0.01        # rows with close_price_change == close_price
    ticks: int = 2


@dataclass
class MabnaData:
    landing: str                        # dir of <table>.parquet
    deltas: list[dict[str, list[dict]]] = field(default_factory=list)
    # flat pyarrow tables per table name: history + every delta row, for
    # the independent recomputation
    flat: dict[str, list[pa.Table]] = field(default_factory=dict)


def _days(month_idx: int) -> int:
    return _MONTH_DAYS[MONTHS[month_idx][1] - 1]


def _jdate(month_idx: int, day: int) -> str:
    y, m = MONTHS[month_idx]
    return f"{y}/{m:02d}/{day:02d}"


class _Table:
    """One fact table's key space: slots are (entity, month, day)."""

    def __init__(self, n_entities: int):
        self.n = n_entities
        self.used: set[tuple[int, int, int]] = set()
        self.by_month: dict[int, list[tuple[int, int, int]]] = {}

    def add(self, s: tuple[int, int, int]) -> None:
        if s not in self.used:
            self.used.add(s)
            self.by_month.setdefault(s[1], []).append(s)

    def free_slot(self, rng, month: int, tries: int = 16):
        for _ in range(tries):
            s = (int(rng.integers(self.n)), month, int(rng.integers(1, _days(month) + 1)))
            if s not in self.used:
                return s
        return None

    def used_slot(self, rng, month: int):
        """A key of ``month`` already delivered (a re-delivery)."""
        pool = self.by_month.get(month)
        return pool[int(rng.integers(len(pool)))] if pool else None


def _null_mask(rng, n: int, share: float, cols: list[str]) -> dict[str, np.ndarray]:
    hit = rng.random(n) < share
    which = rng.integers(len(cols), size=n)
    return {c: hit & (which == i) for i, c in enumerate(cols)}


def _masked(values, mask) -> pa.Array:
    return pa.array(values, mask=np.asarray(mask, dtype=bool))


def _trade_rows(rng, slots, ids, versions, inst_ids, p: MabnaParams) -> pa.Table:
    n = len(slots)
    ent = np.array([s[0] for s in slots], dtype=np.int64)
    close = np.round(rng.uniform(100, 50000, n), 2)
    change = np.round(close * rng.uniform(-0.05, 0.05, n), 2)
    dz = rng.random(n) < p.div_zero_share
    change[dz] = close[dz]
    openp = np.round(close - change * rng.uniform(0, 1, n), 2)
    high = np.round(np.maximum(openp, close) * (1 + rng.uniform(0, 0.03, n)), 2)
    low = np.round(np.minimum(openp, close) * (1 - rng.uniform(0, 0.03, n)), 2)
    count = rng.integers(1, 5000, n)
    volume = count * rng.integers(10, 1000, n)
    value = np.round(volume * close, 2)
    dt = [
        f"{_jdate(m, d).replace('/', '')}{int(h):02d}{int(mi):02d}00"
        for (_, m, d), h, mi in zip(slots, rng.integers(9, 13, n), rng.integers(0, 60, n))
    ]
    nulls = _null_mask(rng, n, p.null_share, TRADE_REQUIRED)
    cols = {
        "id": pa.array(ids, pa.int64()),
        "date_time": _masked(dt, nulls["date_time"]),
        "open_price": _masked(openp, nulls["open_price"]),
        "high_price": _masked(high, nulls["high_price"]),
        "low_price": _masked(low, nulls["low_price"]),
        "close_price": _masked(close, nulls["close_price"]),
        "close_price_change": _masked(change, nulls["close_price_change"]),
        "trade_count": _masked(count, nulls["trade_count"]),
        "volume": _masked(volume, nulls["volume"]),
        "value": _masked(value, nulls["value"]),
        "instrument.id": _masked([inst_ids[e] for e in ent], nulls["instrument.id"]),
        "meta.version": pa.array(versions, pa.int64()),
    }
    return pa.table(cols)


def _index_rows(rng, slots, ids, versions, idx_ids, p: MabnaParams) -> pa.Table:
    n = len(slots)
    close = np.round(rng.uniform(1000, 3_000_000, n), 2)
    change = np.round(close * rng.uniform(-0.03, 0.03, n), 2)
    dz = rng.random(n) < p.div_zero_share
    change[dz] = close[dz]
    openv = np.round(close - change, 2)
    high = np.round(np.maximum(openv, close) * 1.01, 2)
    low = np.round(np.minimum(openv, close) * 0.99, 2)
    dt = [f"{_jdate(m, d).replace('/', '')}123000" for (_, m, d) in slots]
    nulls = _null_mask(rng, n, p.null_share, INDEX_REQUIRED)
    return pa.table({
        "id": pa.array(ids, pa.int64()),
        "date_time": _masked(dt, nulls["date_time"]),
        "open_value": _masked(openv, nulls["open_value"]),
        "low_value": _masked(low, nulls["low_value"]),
        "high_value": _masked(high, nulls["high_value"]),
        "close_value": _masked(close, nulls["close_value"]),
        "close_value_change": _masked(change, nulls["close_value_change"]),
        "index.id": _masked([idx_ids[s[0]] for s in slots], nulls["index.id"]),
        "meta.version": pa.array(versions, pa.int64()),
    })


def _news_rows(rng, slots, ids, versions, p: MabnaParams) -> pa.Table:
    n = len(slots)
    titles = [f"headline {s[0]:05d}" for s in slots]
    texts = [" ".join(rng.choice(WORDS, int(rng.integers(20, 60)))) for _ in range(n)]
    dt = [f"{_jdate(m, d).replace('/', '')}080000" for (_, m, d) in slots]
    nulls = _null_mask(rng, n, p.null_share, NEWS_REQUIRED)
    return pa.table({
        "id": pa.array(ids, pa.int64()),
        "date_time": _masked(dt, nulls["date_time"]),
        "title": _masked(titles, nulls["title"]),
        "text": _masked(texts, nulls["text"]),
        "meta.version": pa.array(versions, pa.int64()),
    })


def _nest(row: dict) -> dict:
    """Flat dotted names → the nested REST record shape."""
    out: dict = {}
    for k, v in row.items():
        if isinstance(v, float) and v != v:
            v = None
        head, _, tail = k.partition(".")
        if tail:
            out.setdefault(head, {})[tail] = v
        else:
            out[k] = v
    return out


def mabna(seed: int, out_dir: str, p: MabnaParams) -> MabnaData:
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    data = MabnaData(landing=out_dir)
    n_days = sum(_days(m) for m in range(len(MONTHS)))
    n_inst = max(1, -(-p.history_rows_per_type * 10 // (n_days * 9)))  # ~90% fill
    next_id = [1]
    next_ver = [1]

    def take(n, counter):
        out = np.arange(counter[0], counter[0] + n, dtype=np.int64)
        counter[0] += n
        return out

    # ---- dimensions
    inst_ids, inst_rows, asset_rows = {}, [], []
    for t in p.types:
        inst_ids[t] = [f"ins-{t}-{i}" for i in range(n_inst)]
        for i in range(n_inst):
            inst_rows.append({
                "id": inst_ids[t][i], "code": f"C{t[:3]}{i}", "isin": f"IR{t[:3].upper()}{i:06d}",
                "name": f"{t}-{i:04d}", "stock.company.id": f"co-{i % 97}",
                "asset.id": f"ast-{t}-{i}",
                "exchange.id": f"ex-{int(rng.integers(len(EXCHANGES)))}",
            })
            asset_rows.append({
                "id": f"ast-{t}-{i}",
                "category.id": f"cat-{int(rng.integers(len(CATEGORIES)))}",
            })
    n_idx = 8
    idx_ids = [f"idx-{i}" for i in range(n_idx)]
    dims = {
        "instruments": pa.Table.from_pylist(inst_rows),
        "assets": pa.Table.from_pylist(asset_rows),
        "categories": pa.table({"id": [f"cat-{i}" for i in range(len(CATEGORIES))],
                                "short_name": CATEGORIES}),
        "exchanges": pa.table({"id": [f"ex-{i}" for i in range(len(EXCHANGES))],
                               "title": EXCHANGES}),
        "indexes": pa.table({"id": idx_ids, "name": [f"index-{i}" for i in range(n_idx)]}),
    }
    for name, tbl in dims.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))

    # ---- history: one bar per (entity, day), ~90% of slots filled
    def history(n_ent: int, n_rows: int):
        tbl = _Table(n_ent)
        month_of_day = np.repeat(np.arange(len(MONTHS)), [_days(m) for m in range(len(MONTHS))])
        first_day = np.concatenate([[0], np.cumsum([_days(m) for m in range(len(MONTHS))])[:-1]])
        flat = rng.choice(n_ent * n_days, size=min(n_rows, n_ent * n_days), replace=False)
        flat.sort()
        slots = []
        for f in flat:
            e, d = divmod(int(f), n_days)
            m = int(month_of_day[d])
            slots.append((e, m, d - int(first_day[m]) + 1))
        for s in slots:
            tbl.add(s)
        return tbl, slots

    keyspaces: dict[str, _Table] = {}
    makers = {}
    for t in p.types:
        key = f"trades_{t}"
        ks, slots = history(n_inst, p.history_rows_per_type)
        ids, vers = take(len(slots), next_id), take(len(slots), next_ver)
        rng.shuffle(vers)  # versions are not date-ordered in the history
        makers[key] = (lambda s, i, v, t=t: _trade_rows(rng, s, i, v, inst_ids[t], p))
        keyspaces[key] = ks
        data.flat[key] = [makers[key](slots, ids, vers)]
    n_iv = max(1, p.history_rows_per_type // 4)
    ks, slots = history(n_idx, n_iv)
    keyspaces["indexvalues"] = ks
    makers["indexvalues"] = lambda s, i, v: _index_rows(rng, s, i, v, idx_ids, p)
    data.flat["indexvalues"] = [makers["indexvalues"](slots, take(len(slots), next_id),
                                                      take(len(slots), next_ver))]
    n_news = max(1, p.history_rows_per_type // 20)
    ks, slots = history(max(1, n_news * 2 // n_days + 1), n_news)
    keyspaces["news"] = ks
    makers["news"] = lambda s, i, v: _news_rows(rng, s, i, v, p)
    data.flat["news"] = [makers["news"](slots, take(len(slots), next_id),
                                        take(len(slots), next_ver))]
    for name, parts in data.flat.items():
        pq.write_table(parts[0], os.path.join(out_dir, f"{name}.parquet"))

    # ---- deltas: versions above every landed version, so the sink
    # watermark never filters a delivered row
    sizes = {k: p.delta_rows_per_tick for k in keyspaces}
    sizes["indexvalues"] = max(1, p.delta_rows_per_tick // 4)
    sizes["news"] = max(1, p.delta_rows_per_tick // 10)
    last = len(MONTHS) - 1
    for _ in range(p.ticks):
        tick: dict[str, list[dict]] = {}
        for key, ks in keyspaces.items():
            slots = []
            for _ in range(sizes[key]):
                month = last if rng.random() < p.current_month_share else int(rng.integers(last))
                s = None
                if rng.random() < p.redelivery_share:
                    s = ks.used_slot(rng, month)
                if s is None:
                    s = ks.free_slot(rng, month) or ks.used_slot(rng, month)
                if s is None:  # an empty, full month: cannot happen at these sizes
                    continue
                ks.add(s)
                slots.append(s)
            tbl = makers[key](slots, take(len(slots), next_id), take(len(slots), next_ver))
            data.flat[key].append(tbl)
            tick[key] = [_nest(r) for r in tbl.to_pylist()]
        data.deltas.append(tick)
    return data


# ------------------------------------------------------------ documents
LANGS = ["en"] * 3 + ["zh", "es", "fr", "de"]  # en ~40%, as in the contract table
TWIN_EVERY = 8  # a twin differs from its source in every 8th word


def _twin(rng, text: str) -> str:
    """A near-dup of ``text`` that the exact-substring cut (k=8) leaves
    whole: one word in every 8 consecutive words is replaced, so no
    8-word window is shared with the source, while the word-bigram
    Jaccard stays ~0.6, above the 0.5 near-dup threshold."""
    words = text.split()
    for i in range(TWIN_EVERY - 1, len(words), TWIN_EVERY):
        words[i] = WORDS[(WORDS.index(words[i]) + 1 + int(rng.integers(len(WORDS) - 1)))
                         % len(WORDS)]
    return " ".join(words)


def documents(seed: int, path: str, n_doc: int) -> None:
    """The curation corpus, in the columns and text shape of the
    contract's ``documents`` table (``doc_id, text, lang, source,
    n_chars``; 10-100 words over the same 30-word vocabulary). ~5% of
    the documents are near-dup twins of an earlier one (``_twin``) and
    ~0.2% exact copies."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.05:
            texts.append(_twin(rng, texts[int(rng.integers(i))]))
        elif i >= 10 and rng.random() < 0.002:
            texts.append(texts[int(rng.integers(i))])
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[int(x)] for x in rng.integers(len(LANGS), size=n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), path)
