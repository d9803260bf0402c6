"""Seeded input generators for the benchmark.

Everything here runs before the system under test starts; the system
only sees the files written.

``nypd_history`` writes the ETL inputs: one dirty NYPD-shaped JSONL
base history plus a stream of daily deltas, and returns the ground
truth a correct ``run_etl`` must reproduce (rows scanned, rows that
survive cleaning, rows inserted). The dirt has the shapes FIXTURES.md
lists: UPPERCASE headers, ~20% epoch-millis dates, blank keys, garbage
dates and numerics, a nested ``lon_lat`` extra and ~1% duplicated
keys. Deltas add keys re-sent from history and late rows dated at or
below the target's high watermark. The other fractions (2% blank keys,
1-2% garbage dates, 5% re-sent keys, 3% late rows) are assumptions;
nothing measured from the live feed backs them.

``star_tables`` writes the ten parquet tables the query registry reads
(TPC-H-shaped star schema plus ``events``, ``documents`` and
``embeddings``), with the same schemas and value domains as the
registry's reference data.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np

EPOCH = dt.date(1970, 1, 1)
BASE_FIRST_DAY = (dt.date(2023, 1, 1) - EPOCH).days
BASE_DAYS = 365

BOROS = ["B", "K", "M", "Q", "S", "X", ""]
LAW_CATS = ["F", "M", "V", "I", "f", "", "NONE", "9"]
SEXES = ["M", "F", "u", ""]
RACES = ["BLACK", "WHITE", "WHITE HISPANIC", "ASIAN / PACIFIC ISLANDER", ""]
AGES = ["<18", "18-24", "25-44", "45-64", "65+", ""]
OFFENSES = ["ASSAULT 3 & RELATED OFFENSES", "PETIT LARCENY", "FELONY ASSAULT", "ROBBERY", ""]
GARBAGE_DATES = ["N/A", "", "12345", "2024-01-05junk"]


def _batch_lines(
    rng: np.random.Generator, keys: np.ndarray, days: np.ndarray, garbage: np.ndarray
) -> list[str]:
    """JSONL lines for one batch. ``days`` are epoch days; rows flagged in
    ``garbage`` get an unparseable date instead. About one date in five
    is rendered as epoch millis (a JSON number), the rest as ISO strings."""
    n = len(keys)
    iso = np.datetime_as_string(days.astype("datetime64[D]"))
    millis = rng.random(n) < 0.2
    bad = np.array(GARBAGE_DATES)[rng.integers(0, len(GARBAGE_DATES), n)]
    pd_cd = rng.integers(0, 999, n)
    pd_desc = np.where(rng.random(n) < 0.5, "ASSAULT 3", "nan")
    ky_cd = rng.integers(100, 999, n)
    ofns = np.array(OFFENSES)[rng.integers(0, len(OFFENSES), n)]
    law_code = rng.integers(1_000_000, 9_999_999, n)
    law_cat = np.array(LAW_CATS)[rng.integers(0, len(LAW_CATS), n)]
    boro = np.array(BOROS)[rng.integers(0, len(BOROS), n)]
    precinct = np.where(rng.random(n) < 0.9, rng.integers(1, 124, n).astype(str), "garbage")
    juris = rng.integers(0, 3, n)
    age = np.array(AGES)[rng.integers(0, len(AGES), n)]
    sex = np.array(SEXES)[rng.integers(0, len(SEXES), n)]
    race = np.array(RACES)[rng.integers(0, len(RACES), n)]
    x = rng.integers(900_000, 1_100_000, n)
    y = rng.integers(120_000, 280_000, n)
    lat = 40.5 + rng.random(n) * 0.4
    lon = -74.2 + rng.random(n) * 0.5
    lat_s = np.where(rng.random(n) < 0.95, np.char.mod("%.6f", lat), "junk")
    # plain Python values format several times faster than numpy scalars
    keys, days, garbage, iso, millis, bad = (
        a.tolist() for a in (keys, days, garbage, iso, millis, bad)
    )
    pd_cd, pd_desc, ky_cd, ofns, law_code, law_cat, boro, precinct = (
        a.tolist() for a in (pd_cd, pd_desc, ky_cd, ofns, law_code, law_cat, boro, precinct)
    )
    juris, age, sex, race, x, y, lat, lon, lat_s = (
        a.tolist() for a in (juris, age, sex, race, x, y, lat, lon, lat_s)
    )
    lines = []
    for i in range(n):
        if garbage[i]:
            date = f'"{bad[i]}"'
        elif millis[i]:
            date = str(days[i] * 86_400_000)
        else:
            date = f'"{iso[i]}"'
        lines.append(
            f'{{"ARREST_KEY": "{keys[i]}", "ARREST_DATE": {date}, "PD_CD": "{pd_cd[i]}", '
            f'"PD_DESC": "{pd_desc[i]}", "KY_CD": "{ky_cd[i]}", "OFNS_DESC": "{ofns[i]}", '
            f'"LAW_CODE": "PL {law_code[i]}", "LAW_CAT_CD": "{law_cat[i]}", '
            f'"ARREST_BORO": "{boro[i]}", "ARREST_PRECINCT": "{precinct[i]}", '
            f'"JURISDICTION_CODE": "{juris[i]}", "AGE_GROUP": "{age[i]}", '
            f'"PERP_SEX": "{sex[i]}", "PERP_RACE": "{race[i]}", "X_COORD_CD": "{x[i]}", '
            f'"Y_COORD_CD": "{y[i]}", "LATITUDE": "{lat_s[i]}", "LONGITUDE": "{lon[i]:.6f}", '
            f'"LON_LAT": {{"type": "Point", "coordinates": [{lon[i]:.6f}, {lat[i]:.6f}]}}}}\n'
        )
    return lines


def _write_jsonl(path: str, lines: list[str]) -> None:
    with open(path, "w") as f:
        f.writelines(lines)


def _fresh_keys(start: int, n: int) -> np.ndarray:
    return np.char.mod("K%09d", np.arange(start, start + n))


def nypd_history(
    out_dir: str,
    seed: int,
    base_rows: int,
    delta_rows: int,
    n_deltas: int,
) -> dict:
    """Write ``base.jsonl`` and ``delta_NNN.jsonl`` under ``out_dir``.

    Returns the ground truth: for the base load and for each delta in
    order, the path, rows scanned, rows surviving the clean stage, and
    rows a first-writer-wins incremental merge must insert. Deltas are
    meant to be applied in order after the base; each one is dated one
    day past the previous, so the high watermark advances daily.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    next_key = 0

    # base: 2% blank keys, 1% garbage dates, 1% in-batch duplicates
    n = base_rows
    u = rng.random(n)
    blank, garbage, dup = u < 0.02, (u >= 0.02) & (u < 0.03), (u >= 0.03) & (u < 0.04)
    fresh = ~(blank | garbage | dup)
    keys = _fresh_keys(next_key, n).astype(object)
    next_key += n
    days = BASE_FIRST_DAY + rng.integers(0, BASE_DAYS, n)
    fresh_idx = np.flatnonzero(fresh)
    src = fresh_idx[rng.integers(0, len(fresh_idx), n)]
    keys[dup], days[dup] = keys[src[dup]], days[src[dup]]
    keys[blank] = np.where(rng.random(int(blank.sum())) < 0.5, "", "  ")
    path = os.path.join(out_dir, "base.jsonl")
    _write_jsonl(path, _batch_lines(rng, keys, days, garbage))
    in_target = list(keys[fresh])
    hwm = int(days[fresh].max())
    truth = {
        "base": {
            "path": path,
            "scanned": n,
            "cleaned": int((fresh | dup).sum()),
            "inserted": int(fresh.sum()),
        },
        "deltas": [],
    }

    # deltas: 2% blank keys, 2% garbage dates, 3% late rows (new key dated
    # at or below the watermark), 5% keys re-sent from the target, 1%
    # in-batch duplicates; the rest are new keys dated one day past it
    n = delta_rows
    for i in range(n_deltas):
        day = hwm + 1
        u = rng.random(n)
        blank = u < 0.02
        garbage = (u >= 0.02) & (u < 0.04)
        late = (u >= 0.04) & (u < 0.07)
        resent = (u >= 0.07) & (u < 0.12)
        dup = (u >= 0.12) & (u < 0.13)
        fresh = u >= 0.13
        keys = _fresh_keys(next_key, n).astype(object)
        next_key += n
        days = np.full(n, day, dtype=np.int64)
        days[late] = hwm - rng.integers(0, 30, int(late.sum()))
        keys[resent] = np.array(in_target, dtype=object)[
            rng.integers(0, len(in_target), int(resent.sum()))
        ]
        fresh_idx = np.flatnonzero(fresh)
        keys[dup] = keys[fresh_idx[rng.integers(0, len(fresh_idx), int(dup.sum()))]]
        keys[blank] = ""
        path = os.path.join(out_dir, f"delta_{i:03d}.jsonl")
        _write_jsonl(path, _batch_lines(rng, keys, days, garbage))
        in_target.extend(keys[fresh])
        hwm = day
        truth["deltas"].append(
            {
                "path": path,
                "scanned": n,
                "cleaned": int((~(blank | garbage)).sum()),
                "inserted": int(fresh.sum()),
            }
        )
    return truth


# -- star schema -----------------------------------------------------------

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "blue", "green", "large", "shiny", "rusty", "steel"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "nut", "screw", "spring", "valve"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _days(rng: np.random.Generator, first: dt.date, last: dt.date, n: int) -> np.ndarray:
    span = (last - first).days + 1
    start = np.datetime64(first.isoformat(), "D")
    return (start + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten registry tables as ``<name>.parquet``; returns row counts."""
    import pandas as pd

    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))

    def rng_for(i: int) -> np.random.Generator:
        return np.random.default_rng([seed, 100 + i])

    tables: dict[str, pd.DataFrame] = {}
    tables["region"] = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    tables["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    r = rng_for(0)
    tables["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)],
        }
    )
    r = rng_for(1)
    tables["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
        }
    )
    r = rng_for(2)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    tables["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.array(names)[r.integers(0, len(names), n_part)],
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
            "p_type": np.array(PART_TYPES)[r.integers(0, len(PART_TYPES), n_part)],
            "p_size": r.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    r = rng_for(3)
    tables["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
            "o_totalprice": _money(r, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(r, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
            "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)],
        }
    )
    r = rng_for(4)
    tables["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": r.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": r.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": r.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(r, 900.0, 105_000.0, n_line),
            "l_discount": r.integers(0, 11, n_line) / 100.0,
            "l_tax": r.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
            "l_shipdate": _days(r, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line),
        }
    )
    r = rng_for(5)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(r.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    tables["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": t0 + offsets.astype("timedelta64[us]"),
            "user_id": r.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)],
            "value": np.maximum(0.01, np.round(r.exponential(50.0, n_ev), 2)),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
        }
    )
    r = rng_for(6)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and r.random() < 0.05:
            # near-duplicate of an earlier document
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            n_words = int(r.integers(10, 100))
            texts.append(" ".join(np.array(VOCAB)[r.integers(0, len(VOCAB), n_words)]))
    tables["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[r.choice(len(LANGS), n_docs, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    r = rng_for(7)
    vecs = r.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": list(vecs),
            "label": r.integers(0, 10, n_vec).astype(np.int32),
        }
    )
    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return {name: len(df) for name, df in tables.items()}

