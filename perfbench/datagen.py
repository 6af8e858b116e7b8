"""Seeded input generators for the benchmark.

``star_schema`` writes the ten-table mandi-price star schema the
operators read (same table names, column types and value domains as the
star-schema testdata described in FIXTURES.md §B). ``AgmarknetFeed`` builds
the raw paged feed the ingest workload pulls, with the reference's
quirks: dd/MM/yyyy dates, Modal_Price serialized as ``1600``, ``350.0``
or junk, empty pages, replayed pages carrying corrections and pages
that fail on every attempt.

Everything is a pure function of the seed, so two runs with one seed
see byte-identical inputs.
"""

from __future__ import annotations

import datetime as dt
import functools
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
ADJECTIVES = ("large", "hot", "blue", "old", "cold", "red", "small", "green")
NOUNS = ("ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "spring")


def _ts(start: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int(start.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    return pa.array(base + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def _days(rng, n, first: dt.date, last: dt.date) -> pa.Array:
    span = (last - first).days + 1
    d = rng.integers(0, span, n).astype(np.int64) * 86_400_000_000
    return _ts(dt.datetime.combine(first, dt.time()), d)


def _pick(rng, values, n, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_schema(out_dir: str, seed: int, sf: float) -> str:
    """Write region..embeddings parquet files under ``out_dir`` at scale
    factor ``sf`` (lineitem has 6e6·sf rows) and return ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    # Full lineitem rows are unique (the oracle contract's tiebreak key
    # is the whole row), but (l_orderkey, l_linenumber) is not.
    li_key = np.unique(np.stack([
        rng.integers(0, n_ord, n_li), rng.integers(1, 8, n_li),
        rng.integers(0, n_part, n_li), rng.integers(0, n_supp, n_li),
    ], axis=1), axis=0)
    rng.shuffle(li_key)
    m = len(li_key)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(li_key[:, 0], pa.int64()),
        "l_partkey": pa.array(li_key[:, 2], pa.int64()),
        "l_suppkey": pa.array(li_key[:, 3], pa.int64()),
        "l_linenumber": pa.array(li_key[:, 1], pa.int32()),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], m),
        "l_linestatus": _pick(rng, ["F", "O"], m),
        "l_shipdate": _days(rng, m, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    })
    # Distinct microsecond timestamps over 30 days, in event_id order.
    ts_us = np.sort(rng.choice(30 * 86_400 * 1_000_000, n_ev, replace=False))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1), ts_us),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n_ev), pa.int64()),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = [" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), k)])
             for k in rng.integers(10, 101, n_doc)]
    # 5% near-duplicates: another document's text with one word swapped
    # and a trailing marker — the dedup operators' planted signal.
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        words = texts[int(rng.integers(0, n_doc))].split()
        words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        texts[i] = " ".join(words) + " dup"
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": _pick(rng, ["de", "en", "es", "fr", "zh"], n_doc,
                      p=[0.14, 0.42, 0.15, 0.14, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    # Unit vectors around ten label centroids.
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


STATES = ("Kerala", "Punjab", "Gujarat", "Maharashtra", "Uttar Pradesh",
          "Karnataka", "Tamil Nadu", "West Bengal")
CROPS = ("Apple", "Tea", "Bhindi(Ladies Finger)", "Wheat", "Onion", "Potato",
         "Tomato", "Egg", "Banana", "Cotton")
GRADES = ("FAQ", "Medium", "Large", "Small", "Local")
DATE_EPOCH = np.datetime64("2020-01-01")
RAW_COLUMNS = ("State", "District", "Market", "Commodity", "Variety", "Grade",
               "Arrival_Date", "Min_Price", "Max_Price", "Modal_Price",
               "Commodity_Code")


def quotations(rng, offsets: np.ndarray, ids: np.ndarray,
               correction: np.ndarray | bool = False) -> pd.DataFrame:
    """Raw all-string records for quotation ids ``ids`` served at source
    offsets ``offsets``. Quotation ``i`` has a distinct natural key
    (State, District, Market, Commodity, Variety, Grade, Arrival_Date);
    a correction re-sends it with a changed price."""
    n = len(ids)
    state = ids % len(STATES)
    crop = (ids // len(STATES)) % len(CROPS)
    rest = ids // (len(STATES) * len(CROPS))
    district, rest = rest % 7, rest // 7
    market, rest = rest % 13, rest // 13
    grade, day = rest % len(GRADES), rest // len(GRADES)
    price = rng.integers(300, 9000, n) + 7 * np.asarray(correction, dtype=np.int64)
    junk = rng.random(n)
    states = np.asarray(STATES, dtype=object)[state]
    modal = np.where(ids % 3 == 0, pd.Series(price).astype(str) + ".0",
                     pd.Series(price).astype(str))
    modal = np.where(junk < 0.02, np.asarray(["n/a", "", "--"], dtype=object)[ids % 3],
                     modal)
    first, last = (int(day.min()), int(day.max())) if n else (0, 0)
    names = pd.Series(DATE_EPOCH + np.arange(first, last + 1).astype("timedelta64[D]"))
    dates = names.dt.strftime("%d/%m/%Y").values[day - first]
    return pd.DataFrame({
        "_src_offset": offsets,
        "State": states,
        "District": states + " District" + pd.Series(district).astype(str).values,
        "Market": "Market" + pd.Series(market).astype(str).values,
        "Commodity": np.asarray(CROPS, dtype=object)[crop],
        "Variety": "Other",
        "Grade": np.asarray(GRADES, dtype=object)[grade],
        "Arrival_Date": np.where(rng.random(n) > 0.005, dates, "unknown"),
        "Min_Price": pd.Series(price - 100).astype(str).values,
        "Max_Price": pd.Series(price + 100).astype(str).values,
        "Modal_Price": modal,
        "Commodity_Code": pd.Series(17 + crop).astype(str).values,
    })


class AgmarknetFeed:
    """The raw paged Agmarknet feed the ingest workload pulls.

    The preload is quotations ``0 .. preload_rows-1``, served in pages of
    ``preload_page`` rows; the benchmark ingests it through the engine
    before timing, as the history earlier cron runs produced. The feed
    proper is ``n_triggers`` triggers of ``pages_per_trigger`` pages of
    ``limit`` rows, from offset ``preload_rows`` on. Every trigger's
    page range holds one page that fails on every attempt, one empty
    page and ``REPLAYS`` pages that replay a page one to three pages
    back with corrected prices (the replay's higher offset must win the
    upsert); the seed picks which slots they take and the rest carry new
    quotations. Each page is one JSON file (an API response body).
    Within a page 2% of Modal_Price values are junk (the row is dropped
    in cleaning) and 0.5% of dates are junk (the date becomes NULL).
    """

    REPLAYS = 5

    def __init__(self, root: str, seed: int, *, limit: int, pages_per_trigger: int,
                 n_triggers: int, preload_rows: int, preload_page: int):
        self.root = root
        self.preload_page = preload_page
        self.first_offset = preload_rows
        self.end_offset = preload_rows + n_triggers * pages_per_trigger * limit
        rng = np.random.default_rng(seed + 7919)
        os.makedirs(root, exist_ok=True)
        ids = np.arange(preload_rows)
        self.preload = quotations(rng, ids // preload_page * preload_page, ids)
        self.failing: set[int] = set()
        offsets, ids, fixes = [], [], []
        for t in range(n_triggers):
            slots = rng.permutation(pages_per_trigger)
            replayed = set(slots[2:2 + self.REPLAYS].tolist())
            for p in range(pages_per_trigger):
                off = preload_rows + (t * pages_per_trigger + p) * limit
                if p == slots[0]:
                    self.failing.add(off)
                elif p == slots[1]:
                    continue  # an empty page: no file, so the fetch returns []
                else:
                    src = off - limit * int(rng.integers(1, 4)) if p in replayed else off
                    offsets.append(np.full(limit, off))
                    ids.append(np.arange(src, src + limit))
                    fixes.append(np.full(limit, src != off))
        self.served = quotations(rng, np.concatenate(offsets), np.concatenate(ids),
                                 np.concatenate(fixes))
        for rows in (self.preload, self.served):
            for off, page in rows.groupby("_src_offset", sort=False):
                page.drop(columns="_src_offset").to_json(
                    os.path.join(root, f"{off}.json"), orient="records")
        # Per-page figures, so a trigger's accounting costs no time in
        # the timed loop.
        self.page_rows = self.served.groupby("_src_offset").size()
        self.page_clean_bytes = self.cleaned(self.first_offset, self.end_offset).groupby(
            "_src_offset")["csv_bytes"].sum()

    KEY = ("State", "District", "Market", "Commodity", "Variety", "Grade",
           "Arrival_Date")

    def cleaned(self, lo: int, hi: int) -> pd.DataFrame:
        """Quotations served at offsets [lo, hi), preload included, that
        cleaning keeps, typed as the store holds them; ``csv_bytes`` is
        each row's size as a line of the reference's crop CSV."""
        rows = pd.concat([self.preload, self.served], ignore_index=True)
        rows = rows[(rows["_src_offset"] >= lo) & (rows["_src_offset"] < hi)]
        modal = pd.to_numeric(rows["Modal_Price"], errors="coerce")
        out = rows[modal.notna()].copy()
        out["csv_bytes"] = sum(out[c].str.len() for c in RAW_COLUMNS) + len(RAW_COLUMNS)
        out["Modal_Price"] = modal[modal.notna()]
        day = pd.to_datetime(out["Arrival_Date"], format="%d/%m/%Y", errors="coerce")
        out["Arrival_Date"] = day.dt.date.astype(object).where(day.notna(), None)
        return out

    @functools.lru_cache(maxsize=1)
    def expected_store(self, end: int) -> pd.DataFrame:
        """The store after ingesting everything below ``end``: per key,
        the row from the highest source offset."""
        return (self.cleaned(0, end).sort_values("_src_offset", kind="stable")
                .drop_duplicates(list(self.KEY), keep="last"))

    def fetcher(self) -> "PageFetch":
        return PageFetch(self.root, frozenset(self.failing))


class PageFetch:
    """Picklable FetchFn over the pre-generated pages: a failing page
    raises on every attempt, an absent page is an empty response."""

    def __init__(self, root: str, failing: frozenset):
        self.root = root
        self.failing = failing

    def __call__(self, offset: int, limit: int) -> list[dict]:
        if offset in self.failing:
            raise OSError(f"HTTP 503 at offset {offset}")
        path = os.path.join(self.root, f"{offset}.json")
        if not os.path.exists(path):
            return []
        with open(path) as fh:
            return json.load(fh)[:limit]
