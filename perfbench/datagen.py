"""Seeded inputs for the benchmark workloads.

Every function here is a pure function of its seed and size: the same
arguments write byte-identical files. The program under test only ever sees
the files, never the seed.

* ``write_tables`` writes the TPC-H-like star schema plus the ``documents``
  and ``embeddings`` corpus tables, one single-row-group snappy parquet file
  per table, in the shape of the engine's reference fixtures (FIXTURES.md).
* ``write_brewery_inputs`` writes bronze brewery JSON-lines in the shape of
  ``catalog.BRONZE_BREWERY_SCHEMA`` (Zipf-skewed ``state``), a 5 % update
  batch in the silver shape (staged as several files, so a file stream sees
  several triggers) and a 1 % delete-key list.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents", "embeddings",
)

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
# the reference fixture's vocabulary, measured
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_EMBED_DIM = 64

_BREWERY_TYPES = [
    "micro", "Micro", "nano", "regional", "brewpub", "BrewPub", "large",
    "planning", "bar", "contract", "proprietor", "closed",
]
_COUNTRIES = ["United States"] * 8 + ["Ireland", "England", "Scotland", "Austria"]
_STATES = [
    "California", "Washington", "Colorado", "Michigan", "New York", "Texas",
    "Pennsylvania", "Florida", "North Carolina", "Oregon", "Ohio", "Illinois",
    "Virginia", "Wisconsin", "Massachusetts", "Indiana", "Minnesota",
    "Missouri", "Maine", "Georgia", "Arizona", "Maryland", "New Jersey",
    "Tennessee", "Vermont", "Montana", "Iowa", "Kentucky", "Connecticut",
    "Idaho", "Utah", "New Mexico", "Oklahoma", "South Carolina", "Alabama",
    "Nebraska", "Louisiana", "Kansas", "Alaska", "Nevada",
]
_CITIES = ["Portland", "Denver", "San Diego", "Seattle", "Austin", "Boston",
           "Chicago", "Asheville", "Bend", "Grand Rapids"]
_STREETS = ["Main St", "Oak Ave", "Brewery Rd", "Mill St", "Harbor Blvd",
            "Elm St", "Hop Ln", "Barley Way"]

# the update batch is staged as several files so a file stream sees several
# triggers
_BRONZE_FILES = 4
_UPDATE_FILES = 2

_EPOCH = dt.datetime(1970, 1, 1)


def _micros(day_offsets: np.ndarray, start: dt.datetime) -> pa.Array:
    base = int((start - _EPOCH).total_seconds()) * 1_000_000
    return pa.array(base + day_offsets.astype(np.int64) * 86_400_000_000,
                    type=pa.timestamp("us"))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy",
                   row_group_size=max(1, table.num_rows))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Text in the shape of the reference fixture's ``documents`` table.

    Measured on the fixture at sf 0.1 (5,000 documents): 10-99 words per
    document drawn uniformly from a 30-word vocabulary; 5 % of documents
    are a near-copy of another document (its text plus " dup", so the base
    may itself be a near-copy); exact copies arise only where two near-copies
    share a base (0.16 %); ``lang`` is 41 % "en" and about 15 % each of four
    others; 20 sources.
    """
    texts = [" ".join(rng.choice(_VOCAB, size=int(k))) for k in rng.integers(10, 100, n)]
    near = rng.choice(n, size=n // 20, replace=False)
    for i, base in zip(near.tolist(), rng.integers(0, n, near.size).tolist()):
        texts[i] = texts[base] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(_LANGS, dtype=object)[rng.choice(len(_LANGS), n, p=_LANG_P)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, _EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    offsets = pa.array(np.arange(0, (n + 1) * _EMBED_DIM, _EMBED_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table of ``TABLE_NAMES`` under ``out_dir``; returns the
    row count per table."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    # rows per sf as in the reference fixtures at sf 0.1, e.g. 600,000
    # lineitem, 5,000 documents and 2,000 embeddings (the fixtures below
    # sf 0.1 floor documents and embeddings at 500 rows)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_doc = int(50_000 * sf)
    n_emb = int(20_000 * sf)

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(values: list[str], n: int) -> pa.Array:
        return pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), n)])

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(_REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust)),
            "c_mktsegment": pick(_SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array([
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ]),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
            "p_type": pick(_PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 1)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": pick(["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(money(1000.0, 500_000.0, n_ord)),
            "o_orderdate": _micros(rng.integers(0, 2404, n_ord), dt.datetime(1995, 1, 1)),
            "o_orderpriority": pick(_PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(money(900.0, 105_000.0, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pick(["A", "N", "R"], n_li),
            "l_linestatus": pick(["F", "O"], n_li),
            "l_shipdate": _micros(rng.integers(0, 2498, n_li), dt.datetime(1995, 1, 2)),
        }),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }
    for name in TABLE_NAMES:
        _write(tables[name], os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def _zipf_states(rng: np.random.Generator, n: int) -> np.ndarray:
    weights = 1.0 / np.arange(1, len(_STATES) + 1) ** 1.1
    return rng.choice(len(_STATES), size=n, p=weights / weights.sum())


def _bronze_rows(rng: np.random.Generator, first_id: int, n: int) -> list[dict]:
    """``n`` bronze rows with ids ``first_id ..``; every random draw is one
    vectorised call, so the rows are a pure function of the generator state."""
    hexid = rng.integers(0, 1 << 62, n)
    btype = rng.integers(0, len(_BREWERY_TYPES), n)
    street_no = rng.integers(1, 9999, n)
    suite = rng.random(n) < 0.2
    city = rng.integers(0, len(_CITIES), n)
    state = _zipf_states(rng, n)
    country = rng.integers(0, len(_COUNTRIES), n)
    has_geo = rng.random(n) < 0.9
    lon = rng.uniform(-160, -60, n)
    lat = rng.uniform(20, 65, n)
    rows = []
    for k in range(n):
        i = first_id + k
        rows.append({
            "id": f"{hexid[k]:016x}-{i:08d}",
            "name": f"  Brewery {i} {_CITIES[i % len(_CITIES)]} ",
            "brewery_type": _BREWERY_TYPES[btype[k]],
            "address_1": f"{street_no[k]} {_STREETS[i % len(_STREETS)]}",
            "address_2": f"Suite {i % 500}" if suite[k] else None,
            "address_3": None,
            "city": f" {_CITIES[city[k]]}",
            "state_province": _STATES[state[k]],
            "country": _COUNTRIES[country[k]],
            "longitude": f"{lon[k]:.7f}" if has_geo[k] else None,
            "latitude": f"{lat[k]:.7f}" if has_geo[k] else None,
        })
    return rows


def _write_lines(path: str, rows: list[dict]) -> int:
    data = "".join(json.dumps(r, separators=(",", ":")) + "\n" for r in rows)
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(data)
    return len(data.encode("utf-8"))


def write_brewery_inputs(out_dir: str, seed: int, n_rows: int) -> dict[str, object]:
    """Write ``bronze/``, ``updates/`` and ``deletes/`` JSON-lines dirs under
    ``out_dir``; returns their paths, row counts and the bronze byte size."""
    rng = np.random.default_rng([seed, 2])
    rows = _bronze_rows(rng, 0, n_rows)

    bronze = os.path.join(out_dir, "bronze")
    os.makedirs(bronze, exist_ok=True)
    bronze_bytes = 0
    for f in range(_BRONZE_FILES):
        bronze_bytes += _write_lines(
            os.path.join(bronze, f"part-{f:03d}.json"), rows[f::_BRONZE_FILES]
        )

    # updates: 5 % of existing ids get a new name/type, plus 1 % new ids;
    # silver-shaped, so they merge straight into the curated table
    n_upd = max(1, n_rows // 20)
    upd_idx = rng.choice(n_rows, size=n_upd, replace=False)
    updates = []
    for k, i in enumerate(upd_idx.tolist()):
        r = rows[i]
        updates.append({
            "id": r["id"],
            "brewery_name": f"Renamed Brewery {i}",
            "brewery_type": "closed" if k % 3 == 0 else "micro",
            "full_address": r["address_1"],
            "city": r["city"].strip(),
            "state": r["state_province"],
            "country": r["country"],
            "longitude": None,
            "latitude": None,
        })
    for new in _bronze_rows(rng, n_rows, max(1, n_rows // 100)):
        updates.append({
            "id": new["id"],
            "brewery_name": new["name"].strip(),
            "brewery_type": new["brewery_type"].lower(),
            "full_address": new["address_1"],
            "city": new["city"].strip(),
            "state": new["state_province"],
            "country": new["country"],
            "longitude": -100.5,
            "latitude": 40.25,
        })
    upd_dir = os.path.join(out_dir, "updates")
    os.makedirs(upd_dir, exist_ok=True)
    for f in range(_UPDATE_FILES):
        _write_lines(os.path.join(upd_dir, f"part-{f:03d}.json"), updates[f::_UPDATE_FILES])

    # deletes: 1 % of the original ids, drawn independently of the updates,
    # so an updated id may also be deleted (the delete runs after the merge)
    del_idx = rng.choice(n_rows, size=max(1, n_rows // 100), replace=False)
    del_dir = os.path.join(out_dir, "deletes")
    os.makedirs(del_dir, exist_ok=True)
    _write_lines(os.path.join(del_dir, "part-000.json"),
                 [{"id": rows[i]["id"]} for i in sorted(del_idx.tolist())])

    return {
        "bronze": bronze,
        "updates": upd_dir,
        "deletes": del_dir,
        "bronze_rows": n_rows,
        "update_rows": len(updates),
        "delete_rows": len(del_idx),
        "bronze_bytes": bronze_bytes,
    }
