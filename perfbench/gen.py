"""Seeded input generators for the benchmark.

Every generator takes the seed as an argument and returns plain data
(dicts, lists, files on disk); the program under test only ever sees
that output. The same seed gives byte-identical inputs.

- :func:`weather_documents` — per-city hourly Open-Meteo weather and
  air-quality documents, with the FIXTURES §1.2 tolerance cases planted
  at fixed shares.
- :func:`write_tables` — the star schema plus ``events``, ``documents``
  and ``embeddings`` as one Parquet file each, in the shape the query
  registry reads.
- :func:`request_schedule` — the serving edge's open-loop request
  schedule: a Zipf-skewed URL mix with refreshes and malformed requests.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np

_START = dt.datetime(2025, 1, 1)
_NAMES = ("Kota", "Bañdung", "Sérang", "Malang", "Tegal", "Ciamis", "Bogor", "Garut")


def _hours(n: int, offset: int = 0) -> list[str]:
    return [
        (_START + dt.timedelta(hours=offset + i)).strftime("%Y-%m-%dT%H:%M")
        for i in range(n)
    ]


def weather_documents(seed: int, n_cities: int, days: int, shares: dict) -> list[dict]:
    """One entry per city: ``{"city", "lat", "lon", "weather", "air", "case"}``.

    Values are chosen so the gold aggregates are exact in any summation
    order: temperatures and rain carry one decimal (only min/max/sum are
    taken of them) and PM values are integers (their mean is a single
    correctly-rounded division). ``shares`` fixes the fraction of cities
    carrying each tolerance case; the cases are assigned to disjoint
    cities by a seeded permutation:

    - ``missing_array``: the weather document lacks ``temperature_2m``
      (or the air document lacks ``pm2_5``);
    - ``length_mismatch``: ``precipitation`` is one element short;
    - ``bad_time``: two time strings are unparsable;
    - ``one_source_hours``: the air document starts 5 hours late and runs
      7 hours past the weather document's end.
    """
    rng = np.random.default_rng(seed)
    n_h = days * 24
    order = rng.permutation(n_cities)
    cases = ["plain"] * n_cities
    at = 0
    for case in ("missing_array", "length_mismatch", "bad_time", "one_source_hours"):
        k = int(round(shares[case] * n_cities))
        for j, i in enumerate(order[at:at + k]):
            # half the missing arrays are temperature_2m, half pm2_5
            cases[i] = f"{case}_{j % 2}" if case == "missing_array" else case
        at += k
    docs = []
    for i in range(n_cities):
        case = cases[i]
        city = f"{_NAMES[i % len(_NAMES)]} {i:05d}"
        times = _hours(n_h)
        w = {
            "time": times,
            "temperature_2m": (rng.integers(180, 370, n_h) / 10).tolist(),
            "precipitation": np.where(
                rng.random(n_h) < 0.15, rng.integers(1, 60, n_h) / 10, 0.0
            ).tolist(),
            "relative_humidity_2m": rng.integers(40, 100, n_h).astype(float).tolist(),
            "windspeed_10m": (rng.integers(0, 300, n_h) / 10).tolist(),
            "apparent_temperature": (rng.integers(180, 420, n_h) / 10).tolist(),
            "weathercode": rng.choice([0, 1, 2, 3, 45, 61, 80, 95], n_h).astype(float).tolist(),
            "dew_point_2m": (rng.integers(100, 280, n_h) / 10).tolist(),
            "winddirection_10m": rng.integers(0, 360, n_h).astype(float).tolist(),
        }
        a_off, a_n = (5, n_h + 2) if case == "one_source_hours" else (0, n_h)
        a = {
            "time": _hours(a_n, a_off),
            "pm2_5": rng.integers(3, 90, a_n).astype(float).tolist(),
            "pm10": rng.integers(8, 140, a_n).astype(float).tolist(),
        }
        if case == "missing_array_0":
            del w["temperature_2m"]
        elif case == "missing_array_1":
            del a["pm2_5"]
        elif case == "length_mismatch":
            w["precipitation"] = w["precipitation"][:-1]
        elif case == "bad_time":
            j = int(rng.integers(0, n_h - 1))
            w["time"][j] = "not-a-time"
            a["time"][j + 1] = ""
        docs.append({
            "city": city,
            "lat": round(-8.0 + i * 1e-3, 6),
            "lon": round(106.0 + i * 1e-3, 6),
            "weather": {"hourly": w},
            "air": {"hourly": a},
            "case": case,
        })
    return docs


# --------------------------------------------------------------------------
# Parquet tables for the query registry
# --------------------------------------------------------------------------

_VOCAB = (
    "query row stream the spark line small fast group customer batch sort value "
    "hash filter big data dup part column order scan a slow agg key window table "
    "merge vector join"
).split()
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.45, 0.15, 0.14, 0.13, 0.13)


def _documents(rng, n: int, near_dup_share: float):
    """Bag-of-words documents over a 32-word vocabulary, 8 to 95 words
    each. Exactly ``near_dup_share`` of them copy an earlier document and
    drop its last word, the near-duplicate shape of the registry's
    reference test corpus. Lengths are a seeded permutation of one fixed
    list and the near-duplicate count is fixed, so every seed gives the
    same amount of work."""
    lengths = rng.permutation(8 + (np.arange(n) * 88) // max(n - 1, 1))
    dups = set(rng.permutation(np.arange(20, n))[: int(round(near_dup_share * n))].tolist())
    texts = []
    for i in range(n):
        if i in dups:
            words = texts[int(rng.integers(0, i))].split()[:-1]
        else:
            words = [_VOCAB[j] for j in rng.integers(0, len(_VOCAB), int(lengths[i]))]
        texts.append(" ".join(words))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[j] for j in rng.choice(len(_LANGS), n, p=_LANG_P)],
        "source": [f"src{j}" for j in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def write_tables(seed: int, out_dir: str, sizes: dict) -> dict[str, int]:
    """Write every table the registry loads; returns row counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = sizes["customer"], sizes["supplier"], sizes["part"]
    n_ord, n_ev = sizes["orders"], sizes["events"]
    n_doc, n_emb = sizes["documents"], sizes["embeddings"]
    day = np.datetime64("1995-01-01", "us")
    span_days = 2400

    tables: dict[str, dict] = {}
    tables["region"] = {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }
    tables["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }
    tables["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": rng.integers(-99900, 999900, n_cust) / 100,
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ).tolist(),
    }
    tables["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": rng.integers(-99900, 999900, n_supp) / 100,
    }
    adj = ["blue", "red", "small", "large", "old", "new", "hot", "cold"]
    noun = ["bolt", "gear", "anvil", "widget", "rod", "plate", "ring", "gizmo"]
    tables["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n_part
        ).tolist(),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900 + np.arange(n_part) % 1000 / 10,
    }
    odate = day + rng.integers(0, span_days, n_ord).astype("timedelta64[D]")
    tables["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": rng.integers(100000, 50000000, n_ord) / 100,
        "o_orderdate": odate,
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ).tolist(),
    }
    lines = rng.integers(1, 8, n_ord)
    okeys = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(okeys)
    qty = rng.integers(1, 51, n_li).astype(float)
    tables["lineitem"] = {
        "l_orderkey": okeys,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": qty * rng.integers(90000, 100000, n_li) / 100,
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": np.repeat(odate, lines)
        + rng.integers(1, 120, n_li).astype("timedelta64[D]"),
    }
    ev_ts = np.sort(
        np.datetime64("2024-01-01", "us")
        + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]")
    )
    tables["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ev_ts,
        "user_id": rng.integers(0, max(n_ev // 60, 10), n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev).tolist(),
        "value": rng.integers(1, 50000, n_ev) / 100,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    tables["documents"] = _documents(rng, n_doc, sizes["near_dup_share"])
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + 0.8 * rng.normal(size=(n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    }
    counts = {}
    for name, cols in tables.items():
        tbl = pa.table(cols)
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tbl.num_rows
    return counts


# --------------------------------------------------------------------------
# Serving-edge request schedule
# --------------------------------------------------------------------------

def url_universe(cfg: dict) -> tuple[list[str], list[tuple[str, int]]]:
    """(cacheable URLs that must answer 200, [(malformed URL, its 4xx)]).
    Each cacheable URL is its own cache key."""
    good = list(cfg["dashboard_urls"])
    good += [f"/regencies/{code}" for code in range(cfg["regencies"])]
    good += [f"/search?q=nation_{i}&count=5" for i in range(cfg["search_terms"])]
    good += [f"/query/{name}?limit={cfg['query_limit']}" for name in cfg["light_queries"]]
    return good, [(u, int(s)) for u, s in cfg["malformed"]]


def request_schedule(seed: int, cfg: dict, phases: list[tuple[str, float, float]]) -> list[dict]:
    """Open-loop schedule: for each ``(phase, rate, seconds)``, Poisson
    arrivals at ``rate`` per second. Each request draws a URL from a
    Zipf(``zipf_s``) law over the cacheable universe. Then fixed shares
    of the requests, at seeded positions, become ``refresh=true``
    recomputes (``refresh_share``) or malformed requests
    (``malformed_share``, cycling through the malformed list from a
    seeded start); each share is at least one request. Returns ``[{"t", "phase", "url", "expect",
    "ref"}]``, where ``expect`` is the required status (200 or the 4xx)
    and ``ref`` the cacheable URL whose reference body a 200 must match."""
    rng = np.random.default_rng(seed)
    good, bad = url_universe(cfg)
    ranks = np.arange(1, len(good) + 1, dtype=float)
    p = ranks ** -cfg["zipf_s"]
    p /= p.sum()
    # a seeded permutation decides which URL is most popular, so the
    # hot set differs between seeds but not between runs of one seed
    perm = rng.permutation(len(good))
    arrivals = []
    t0 = 0.0
    for phase, rate, seconds in phases:
        t = t0
        while True:
            t += float(rng.exponential(1.0 / rate))
            if t >= t0 + seconds:
                break
            arrivals.append((round(t, 6), phase, good[perm[int(rng.choice(len(good), p=p))]]))
        t0 += seconds
    n = len(arrivals)
    k_bad = max(1, round(cfg["malformed_share"] * n))
    k_ref = max(1, round(cfg["refresh_share"] * n))
    picks = rng.permutation(n)
    # consecutive entries of the malformed list, from a seeded start
    first = int(rng.integers(0, len(bad)))
    malformed = {int(i): first + j for j, i in enumerate(sorted(picks[:k_bad]))}
    refresh = set(picks[k_bad:k_bad + k_ref].tolist())
    out = []
    for i, (t, phase, url) in enumerate(arrivals):
        if i in malformed:
            bad_url, expect = bad[malformed[i] % len(bad)]
            out.append({"t": t, "phase": phase, "url": bad_url, "expect": expect, "ref": None})
            continue
        ref = url
        if i in refresh:
            url += ("&" if "?" in url else "?") + "refresh=true"
        out.append({"t": t, "phase": phase, "url": url, "expect": 200, "ref": ref})
    return out


def dump(obj, path: str) -> None:
    with open(path, "w", encoding="utf-8") as f:
        json.dump(obj, f, sort_keys=True)
