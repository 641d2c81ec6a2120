"""Seeded input generator for the benchmark.

Everything the program under test reads comes from here, as a pure
function of (seed, size):

* ETL inputs: one JSONL file per source for the eight power-generation
  sources, shaped after `graft.schema.Schemas.readSchemas` and keyed by
  `Schemas.naturalKeys`, with corrupt lines, invalid records and in-file
  duplicate keys injected at fixed rates, and the warehouse history: one
  time-ordered parquet file per source per month, as an incrementally
  loaded warehouse holds it.
* The ground truth each load must report, and what each fact table
  must hold after it (`truth.json`).
* The query corpus: the ten parquet tables `graft.SparkEntry.queries`
  read (TPC-H-like star schema + events, documents, embeddings).

The same seed gives byte-identical files; see tests/test_gen.py.
"""
import calendar
import datetime as dt
import hashlib
import json
import math
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SOURCES = ["entsoe", "ons", "npp", "eia", "oe", "oe_facility", "occto", "chile"]

# Share of the input per source, after the reference's table sizes
# (BASELINE.md: ENTSOE 47.5M >> ONS 12.9M >> NPP 931K > EIA 276K > OE
# 148K); the three sources the reference gives no size for share what
# is left. Every source also gets FLOOR lines per month.
SHARE = {"entsoe": 0.780, "ons": 0.200, "npp": 0.010, "eia": 0.004,
         "oe": 0.003, "oe_facility": 0.001, "occto": 0.001, "chile": 0.001}
FLOOR = 600

# Defect rates, as shares of a file's records.
CORRUPT_RATE = 0.005   # extra lines that are not JSON
INVALID_RATE = 0.010   # records with one rule violation
DUP_RATE = 0.020       # extra lines repeating an earlier valid key

# Points per month by the source's time resolution.
RESOLUTION = {"entsoe": 60, "ons": 60, "occto": 30, "chile": 60,
              "npp": 1440, "oe": 1440, "oe_facility": 1440, "eia": None}

MEASURE = {"entsoe": "generation_mw", "eia": "net_generation_mwh"}

# A required text field per source (IngestJob.rules: non-empty string).
REQUIRED_TEXT = {"entsoe": "data_type", "ons": "plant", "npp": "plant", "eia": "prime_mover",
                 "oe": "network_code", "oe_facility": "facility_name", "occto": "plant",
                 "chile": "plant"}

# Natural keys (graft.schema.Schemas.naturalKeys) and the key parts
# keyed as COALESCE(col, '') (Schemas.nullSafeKeyParts).
KEYS = {
    "npp": ["timestamp_ms", "plant_and_unit"],
    "eia": ["timestamp_ms", "plant_code", "generator_id"],
    "entsoe": ["timestamp_ms", "country_code", "psr_type", "plant_name"],
    "ons": ["timestamp_ms", "plant", "ons_plant_id"],
    "oe": ["timestamp_ms", "fueltech", "network_code"],
    "oe_facility": ["timestamp_ms", "facility_code", "fueltech"],
    "occto": ["timestamp_ms", "plant", "unit"],
    "chile": ["timestamp_ms", "plant", "chile_plant_id"],
}

# Fact-table columns and types (graft.schema.Schemas.schemas).
_ENV = [("extraction_run_id", pa.string()), ("created_at_ms", pa.int64()),
        ("timestamp_ms", pa.int64()), ("resolution_minutes", pa.int32())]
_S, _D = pa.string(), pa.float64()
TABLE_SCHEMA = {
    "npp": _ENV + [("plant", _S), ("plant_and_unit", _S), ("unit", _S),
                   ("generation_mwh", _D)],
    "eia": _ENV + [("utility_id", _S), ("plant_code", _S), ("generator_id", _S),
                   ("state", _S), ("prime_mover", _S), ("fuel_source", _S),
                   ("energy_source", _S), ("net_generation_mwh", _D),
                   ("in_gcpt_crosswalk", pa.bool_()), ("eia_plant_unit_id", _S)],
    "entsoe": _ENV + [("country_code", _S), ("psr_type", _S), ("plant_name", _S),
                      ("fuel_type", _S), ("data_type", _S), ("generation_mw", _D)],
    "ons": _ENV + [(c, _S) for c in ["plant", "ons_plant_id", "plant_type", "fuel_type",
                                     "subsystem_id", "subsystem", "state", "state_name",
                                     "operation_mode", "ceg"]] + [("generation_mwh", _D)],
    "oe": _ENV + [("network_code", _S), ("network_region", _S), ("fueltech", _S),
                  ("fueltech_group", _S), ("generation_mwh", _D)],
    "oe_facility": _ENV + [(c, _S) for c in ["network_code", "network_region",
                                             "facility_code", "facility_name",
                                             "fueltech", "fueltech_group"]]
    + [("latitude", _D), ("longitude", _D), ("capacity_registered_mw", _D),
       ("generation_mwh", _D)],
    "occto": _ENV + [(c, _S) for c in ["plant", "unit", "plant_code", "fuel_code",
                                       "fuel_type", "area_code", "area_name"]]
    + [("generation_mwh", _D)],
    "chile": _ENV + [(c, _S) for c in ["plant", "chile_plant_id", "fuel_type",
                                       "region", "comuna"]] + [("generation_mwh", _D)],
}

PSR_FUEL = {"B01": "Biomass", "B04": "Fossil Gas", "B05": "Fossil Hard coal",
            "B10": "Hydro Pumped Storage", "B11": "Hydro Run-of-river and poundage",
            "B14": "Nuclear", "B16": "Solar", "B19": "Wind Onshore"}
COUNTRIES = ["DE", "FR", "ES", "IT", "PL", "NL", "BE", "AT", "CZ", "PT"]
US_STATES = ["TX", "CA", "PA", "FL", "IL", "OH", "NY", "GA", "NC", "MI"]
FUELS = ["hydro", "wind", "solar", "gas", "coal", "nuclear", "biomass"]

# created_at_ms of every generated record.
HISTORY_CREATED_MS = 1704067200000  # 2024-01-01T00:00:00Z


def _rng(*parts):
    """A random.Random seeded from the parts, stable across processes."""
    h = hashlib.sha256("|".join(str(p) for p in parts).encode()).digest()
    return random.Random(int.from_bytes(h[:8], "big"))


def _uuid(rng):
    h = "%032x" % rng.getrandbits(128)
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"


def _month_ms(year, month):
    return int(dt.datetime(year, month, 1, tzinfo=dt.timezone.utc).timestamp() * 1000)


def _timestamps(source, year, month):
    """Epoch-ms points of a month at the source's resolution; EIA is one
    point per month."""
    res = RESOLUTION[source]
    start = _month_ms(year, month)
    if res is None:
        return [start]
    days = calendar.monthrange(year, month)[1]
    return [start + i * res * 60000 for i in range(days * 1440 // res)]


def _entity(source, i):
    """Static attributes of entity i of a source (one plant/unit/series)."""
    fuel = FUELS[i % len(FUELS)]
    if source == "entsoe":
        psr = sorted(PSR_FUEL)[i % len(PSR_FUEL)]
        return {"country_code": COUNTRIES[i % len(COUNTRIES)], "psr_type": psr,
                "plant_name": f"Plant {i:05d}", "fuel_type": PSR_FUEL[psr],
                "data_type": "Actual Aggregated"}
    if source == "ons":
        # every 20th plant has no ONS id: a NULL key part (COALESCE'd)
        return {"plant": f"Usina {i:05d}",
                "ons_plant_id": None if i % 20 == 7 else f"ONS{i:05d}",
                "plant_type": "UHE" if i % 2 else "UTE", "fuel_type": fuel,
                "subsystem_id": f"S{i % 4}", "subsystem": f"Subsystem {i % 4}",
                "state": ["SP", "MG", "PR", "BA"][i % 4], "state_name": None,
                "operation_mode": "TIPO I", "ceg": f"CEG.{i:06d}"}
    if source == "npp":
        return {"plant": f"NPP Plant {i // 4:04d}", "plant_and_unit": f"NPP {i:05d}",
                "unit": str(i % 4 + 1)}
    if source == "eia":
        return {"utility_id": str(1000 + i // 50), "plant_code": str(50000 + i // 5),
                "generator_id": f"GEN{i % 5}", "state": US_STATES[i % len(US_STATES)],
                "prime_mover": ["ST", "GT", "CA", "WT", "PV"][i % 5],
                "fuel_source": fuel, "energy_source": fuel.upper()[:3],
                "in_gcpt_crosswalk": i % 3 == 0, "eia_plant_unit_id": f"{50000 + i // 5}_{i % 5}"}
    if source == "oe":
        return {"network_code": ["NEM", "WEM"][i % 2], "network_region": f"R{i % 5}",
                "fueltech": f"{fuel}_{i:04d}", "fueltech_group": fuel}
    if source == "oe_facility":
        return {"network_code": "NEM", "network_region": f"R{i % 5}",
                "facility_code": f"FAC{i:05d}", "facility_name": f"Facility {i:05d}",
                "fueltech": fuel, "fueltech_group": fuel,
                "latitude": round(-40 + (i * 0.37) % 30, 4),
                "longitude": round(115 + (i * 0.53) % 35, 4),
                "capacity_registered_mw": float(50 + i % 400)}
    if source == "occto":
        # every 25th unit is NULL (a COALESCE'd key part)
        return {"plant": f"Hatsudensho {i // 3:04d}",
                "unit": None if i % 25 == 11 else str(i % 3 + 1),
                "plant_code": f"P{i // 3:05d}", "fuel_code": str(i % 7),
                "fuel_type": fuel, "area_code": str(i % 9), "area_name": f"Area {i % 9}"}
    if source == "chile":
        return {"plant": f"Central {i:04d}",
                "chile_plant_id": None if i % 30 == 13 else f"CL{i:05d}",
                "fuel_type": fuel, "region": f"Region {i % 16}", "comuna": f"Comuna {i % 40}"}
    raise ValueError(source)


def month_rows(source, year, month, lines, frac, seed):
    """Valid fact rows of one source-month, time-major: the month's
    entity x time grid cut to `lines` rows, then to its first `frac`
    (the month in progress). The rows of a month do not depend on
    `frac`, so a re-extracted month repeats its history exactly."""
    ts = _timestamps(source, year, month)
    rng = _rng(seed, source, year, month, "rows")
    ents = [_entity(source, i) for i in range(max(1, -(-lines // len(ts))))]
    run_id = _uuid(_rng(seed, source, year, month, "run"))
    measure = MEASURE.get(source, "generation_mwh")
    days = calendar.monthrange(year, month)[1]
    cut = _month_ms(year, month) + frac * days * 86400000 if frac < 1 else float("inf")
    rows = []
    for t in ts:
        for e in ents:
            if len(rows) == lines:
                break
            r = {"extraction_run_id": run_id, "created_at_ms": HISTORY_CREATED_MS,
                 "timestamp_ms": t, "resolution_minutes": RESOLUTION[source]}
            r.update(e)
            r[measure] = round(rng.uniform(0, 900), 3)
            rows.append(r)
    return [r for r in rows if r["timestamp_ms"] < cut]


def _key(source, r):
    return tuple("" if r.get(k) is None and k != "timestamp_ms" else r.get(k)
                 for k in KEYS[source])


def _defect(source, r, rng):
    """Return a copy of r that breaks exactly one validation rule."""
    bad = dict(r)
    kind = rng.randrange(4)
    measure = MEASURE.get(source, "generation_mwh")
    if kind == 0:
        bad[measure] = -abs(bad[measure]) - 1.0          # must be non-negative
    elif kind == 1:
        bad["extraction_run_id"] = "not-a-uuid"          # invalid UUID format
    elif kind == 2:
        bad[measure] = True                              # P10: expected float
    else:
        bad[REQUIRED_TEXT[source]] = "  "                # must be non-empty string
    return bad


def _line(source, r, rng):
    """JSONL encoding of a row, with the legacy input shapes the load
    path must accept."""
    out = {k: v for k, v in r.items() if v is not None}
    if source == "entsoe" and rng.random() < 0.02:
        # datetime-string timestamp, coerced by Enrich (P5)
        t = dt.datetime.fromtimestamp(out["timestamp_ms"] / 1000, dt.timezone.utc)
        out["timestamp_ms"] = t.strftime("%Y-%m-%d %H:%M:%S")
    elif source == "npp" and rng.random() < 0.10 and "timestamp_ms" in out:
        out["date"] = out.pop("timestamp_ms") // 1000      # legacy NPP date
    elif source == "chile" and "chile_plant_id" in out and rng.random() < 0.10:
        out["plant_id"] = out.pop("chile_plant_id")        # legacy Chile id
    if source == "eia":
        out.pop("resolution_minutes", None)
    return json.dumps(out, separators=(",", ":"))


def write_jsonl(path, source, rows, seed, existing_keys):
    """Write rows with defects injected; return the ground truth of
    the load (the `IngestJob.LoadResult` counts) and the rows the load
    must add to the table (the first-wins valid rows with a new key)."""
    rng = _rng(seed, source, "defects")
    measure = MEASURE.get(source, "generation_mwh")
    lines, valid_at = [], []
    for r in rows:
        if rng.random() < INVALID_RATE:
            lines.append(_line(source, _defect(source, r, rng), rng))
        else:
            valid_at.append(len(lines))
            lines.append(_line(source, r, rng))
    valid = [rows[i] for i in valid_at]
    # extra lines, each placed before original line `pos` (len = end):
    # a repeated key lands after its first occurrence, which wins
    extra = []
    n_dup = int(len(rows) * DUP_RATE)
    for _ in range(n_dup):
        j = rng.randrange(len(valid_at))
        d = dict(valid[j])
        d[measure] = round(d[measure] + 1.0, 3)
        extra.append((rng.randint(valid_at[j] + 1, len(lines)), len(extra),
                      _line(source, d, rng)))
    n_corrupt = max(1, int(len(rows) * CORRUPT_RATE))
    for _ in range(n_corrupt):
        victim = lines[rng.randrange(len(lines))]
        extra.append((rng.randint(0, len(lines)), len(extra), victim[: len(victim) // 2]))
    extra.sort()
    out, k = [], 0
    for i, line in enumerate(lines + [None]):
        while k < len(extra) and extra[k][0] == i:
            out.append(extra[k][2])
            k += 1
        if line is not None:
            out.append(line)
    with open(path, "w") as f:
        f.write("\n".join(out))
        f.write("\n")
    new = [r for r in valid if _key(source, r) not in existing_keys]
    valid_n = len(valid) + n_dup
    return {"total": len(out), "corrupt": n_corrupt,
            "invalid": len(rows) - len(valid) + n_corrupt,
            "valid": valid_n, "in_file_duplicates": n_dup,
            "inserted": len(new), "duplicates": valid_n - len(new)}, new


def table_truth(source, rows):
    """What the fact table must hold after the load, over its rows:
    the measure total, the time range, and the non-NULL count of every
    natural-key column (the legacy input shapes are coerced into them)."""
    measure = MEASURE.get(source, "generation_mwh")
    return {"measure": measure, "measure_sum": math.fsum(r[measure] for r in rows),
            "min_ts": min(r["timestamp_ms"] for r in rows),
            "max_ts": max(r["timestamp_ms"] for r in rows),
            "key_non_null": {k: sum(r.get(k) is not None for r in rows) for k in KEYS[source]}}


def write_history(table_dir, source, rows, name):
    """One time-ordered parquet file, named like an appended part."""
    os.makedirs(table_dir, exist_ok=True)
    cols = TABLE_SCHEMA[source]
    arrays = [pa.array([r.get(c) for r in rows], type=t) for c, t in cols]
    tbl = pa.Table.from_arrays(arrays, schema=pa.schema(cols))
    pq.write_table(tbl, os.path.join(table_dir, name), compression="snappy")


def monthly_lines(total):
    """Lines per month per source for a month budget of `total` lines."""
    return {s: max(FLOOR, int(total * SHARE[s])) for s in SOURCES}


def etl_inputs(out_dir, seed, month_lines, history_months):
    """Write the etl_overlap inputs into out_dir and return the ground
    truth: `history_months` months already in the warehouse, and a batch
    that is the last of them again (every key exists) plus the first
    third of the next month (the month in progress)."""
    per = monthly_lines(month_lines)
    in_dir = os.path.join(out_dir, "input")
    wh = os.path.join(out_dir, "warehouse")
    os.makedirs(in_dir, exist_ok=True)
    os.makedirs(wh, exist_ok=True)
    truth = {}
    months = [(2023, m) for m in range(1, 13)] + [(2024, m) for m in range(1, 13)]
    hist = months[12 - history_months:12]
    batch = [(hist[-1], 1.0), (months[12], 1.0 / 3)]
    for s in SOURCES:
        existing, history, stored = set(), {}, []
        for i, (y, m) in enumerate(hist):
            rows = month_rows(s, y, m, per[s], 1.0, seed)
            stored.extend(rows)
            existing.update(_key(s, r) for r in rows)
            history[f"{y}-{m:02d}"] = len(rows)
            part = "%08x-part-00000-%04d.c000.snappy.parquet" % (
                _rng(seed, s, y, m, "part").getrandbits(32), i)
            write_history(os.path.join(wh, f"{s}_generation_data"), s, rows, part)
        rows = []
        for (y, m), frac in batch:
            rows.extend(month_rows(s, y, m, per[s], frac, seed))
        t, new = write_jsonl(os.path.join(in_dir, f"{s}.jsonl"), s, rows, seed, existing)
        t["table"] = table_truth(s, stored + new)
        t["history_rows"] = sum(history.values())
        t["history_by_month"] = history
        t["batch_months"] = [f"{y}-{m:02d}" for (y, m), _ in batch]
        truth[s] = t
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1, sort_keys=True)
    return truth


# ---------------------------------------------------------------------
# Query corpus
# ---------------------------------------------------------------------

WORDS = ("join hash row batch scan column customer filter small slow merge order vector "
         "line table data agg value key stream window a spark part group big sort query "
         "fast the").split()
LANGS = ["en"] * 44 + ["zh"] * 15 + ["es"] * 14 + ["de"] * 14 + ["fr"] * 13


def corpus(out_dir, seed, sf):
    """The ten query tables at scale factor sf (sf=0.01 is ~60K
    lineitem rows), drawn from the seed."""
    os.makedirs(out_dir, exist_ok=True)
    g = np.random.default_rng(int.from_bytes(hashlib.sha256(f"{seed}|corpus".encode()).digest()[:8], "big"))
    n_li, n_ord, n_cust, n_part = int(6_000_000 * sf), int(1_500_000 * sf), int(150_000 * sf), int(200_000 * sf)
    n_supp, n_ev = max(10, int(10_000 * sf)), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    ts = lambda a: pa.array(a.astype("datetime64[us]"), type=pa.timestamp("us"))
    day0 = np.datetime64("1995-01-01", "D")

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    write("region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    write("customer", {"c_custkey": np.arange(n_cust, dtype=np.int64),
                       "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                       "c_nationkey": pa.array(g.integers(0, 25, n_cust, dtype=np.int32)),
                       "c_acctbal": np.round(g.uniform(-999.99, 9999.99, n_cust), 2),
                       "c_mktsegment": g.choice(["MACHINERY", "FURNITURE", "BUILDING",
                                                 "AUTOMOBILE", "HOUSEHOLD"], n_cust)})
    write("supplier", {"s_suppkey": np.arange(n_supp, dtype=np.int64),
                       "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                       "s_nationkey": pa.array(g.integers(0, 25, n_supp, dtype=np.int32)),
                       "s_acctbal": np.round(g.uniform(-999.99, 9999.99, n_supp), 2)})
    adj, noun = ["small", "red", "blue", "hot", "old", "new", "large", "cold"], \
        ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
    write("part", {"p_partkey": np.arange(n_part, dtype=np.int64),
                   "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                              zip(g.integers(0, 8, n_part), g.integers(0, 8, n_part))],
                   "p_brand": [f"Brand#{b}" for b in g.integers(1, 26, n_part)],
                   "p_type": g.choice(["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL",
                                       "ECONOMY"], n_part),
                   "p_size": pa.array(g.integers(1, 51, n_part, dtype=np.int32)),
                   "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    write("orders", {"o_orderkey": np.arange(n_ord, dtype=np.int64),
                     "o_custkey": g.integers(0, n_cust, n_ord, dtype=np.int64),
                     "o_orderstatus": g.choice(["P", "O", "F"], n_ord),
                     "o_totalprice": np.round(g.uniform(1000, 500000, n_ord), 2),
                     "o_orderdate": ts(day0 + g.integers(0, 2405, n_ord)),
                     "o_orderpriority": g.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                  "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    okey = g.integers(0, n_ord, n_li, dtype=np.int64)
    # (l_orderkey, l_linenumber) is unique, as in TPC-H
    lnum = np.zeros(n_li, dtype=np.int32)
    order = np.argsort(okey, kind="stable")
    sk = okey[order]
    first = np.r_[0, np.flatnonzero(np.diff(sk)) + 1]
    run = np.arange(n_li) - np.repeat(first, np.diff(np.r_[first, n_li]))
    lnum[order] = (run + 1).astype(np.int32)
    qty = g.integers(1, 51, n_li).astype(np.float64)
    write("lineitem", {"l_orderkey": okey,
                       "l_partkey": g.integers(0, n_part, n_li, dtype=np.int64),
                       "l_suppkey": g.integers(0, n_supp, n_li, dtype=np.int64),
                       "l_linenumber": pa.array(lnum),
                       "l_quantity": qty,
                       "l_extendedprice": np.round(qty * g.uniform(900, 2100, n_li), 2),
                       "l_discount": np.round(g.integers(0, 11, n_li) / 100, 2),
                       "l_tax": np.round(g.integers(0, 9, n_li) / 100, 2),
                       "l_returnflag": g.choice(["R", "A", "N"], n_li),
                       "l_linestatus": g.choice(["O", "F"], n_li),
                       "l_shipdate": ts(day0 + 1 + g.integers(0, 2498, n_li))})
    ev_off = np.sort(g.integers(0, 30 * 86400 * 10**6, n_ev))
    write("events", {"event_id": np.arange(n_ev, dtype=np.int64),
                     "ts": ts(np.datetime64("2024-01-01T00:00:00", "us") + ev_off),
                     "user_id": g.integers(0, 150, n_ev, dtype=np.int64),
                     "event_type": g.choice(["signup", "error", "click", "view", "purchase"], n_ev),
                     "value": np.round(g.exponential(50, n_ev) + 0.01, 2),
                     "props": [json.dumps({"k": int(k)}) for k in g.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i > 10 and g.random() < 0.05:
            texts.append(texts[int(g.integers(0, i))] + " dup")   # near-duplicate
        else:
            texts.append(" ".join(g.choice(WORDS, int(g.integers(10, 100)))))
    write("documents", {"doc_id": np.arange(n_doc, dtype=np.int64), "text": texts,
                        "lang": g.choice(LANGS, n_doc),
                        "source": [f"src{i}" for i in g.integers(0, 20, n_doc)],
                        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = g.integers(0, 10, n_emb, dtype=np.int32)
    centers = g.normal(0, 1, (10, 64))
    vecs = centers[labels] + g.normal(0, 0.8, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {"vec_id": np.arange(n_emb, dtype=np.int64),
                         "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
                         "label": pa.array(labels)})
