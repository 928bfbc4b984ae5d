"""Seed-driven input generators for the benchmark workloads.

Every generator is a pure function of its seed (``random.Random`` seeded
with a string, which hashes with SHA-512 and so does not depend on
``PYTHONHASHSEED``): the same seed writes byte-identical files. The engine
only ever sees the written files.

* ``write_reference_corpus``: the reference's own benchmark shape — 90
  court CSVs with its branch mix (27 TJ*, 27 TRE*, 24 TRT*, 6 TRF*, 3 TJM*,
  STM, STJ, TST; ``scripts/bench_metas_corpus.py`` has 24 TRE* and so 87
  files) and its size spread (one outlier holding 12.8% of the
  bytes, the rest drawn from the per-branch ranges used by
  ``scripts/bench_metas_corpus.py``). The total is fixed at ``total_bytes``
  for every seed, so seeds change the data and the size spread, not the
  amount of work.
* ``write_registry_fixture``: the ten parquet tables the registry's queries
  read (TPC-H-like star schema, ``events``, ``documents`` with near-dup
  clusters, ``embeddings``), with the schemas of the test fixtures
  (``FIXTURE_SCHEMAS.txt``).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random

MB = 1 << 20

# The reference corpus (BASELINE.md): 90 files, 925,561,573 bytes.
REFERENCE_BYTES = 925_561_573
REFERENCE_OUTLIER_SHARE = 118.7 * MB / REFERENCE_BYTES

IDENTITY = ["sigla_tribunal", "ramo_justica"]
META1 = ["julgados_2025", "casos_novos_2025", "suspensos_2025"]
META1_OPTIONAL = "dessobrestados_2025"
TRIPLE_KEYS = ["2_a", "2_b", "2_c", "2_ant", "4_a", "4_b", "6_a",
               "7_a", "7_b", "8_a", "8_b", "10_a", "10_b"]
STJ_COLUMNS = ["julgm8", "dism8", "suspm8", "julgm10", "dism10", "suspm10"]

# Triple keys each branch reports (the column subsets of the reference's
# per-branch files, as in scripts/bench_metas_corpus.py).
BRANCH_KEYS = {
    "estadual": ["2_a", "2_b", "2_c", "2_ant", "4_a", "4_b", "6_a", "7_a",
                 "7_b", "8_a", "8_b", "10_a", "10_b"],
    "trabalho": ["2_a", "2_ant", "4_a", "4_b"],
    "eleitoral": ["2_a", "2_b", "2_ant", "4_a", "4_b"],
    "federal": ["2_a", "2_b", "2_ant", "4_a", "4_b", "6_a", "7_a", "7_b",
                "8_a", "8_b", "10_a"],
    "militar": ["2_a", "2_ant", "4_a"],
}

def _triples(keys: list[str]) -> list[str]:
    return [c for k in keys for c in (f"julgm{k}", f"distm{k}", f"suspm{k}")]


def _write_court(path: str, header: list[str], sigla: str, ramo: str,
                 n_rows: int, rng: random.Random) -> int:
    """One court file: ``n_rows`` rows of small random counters (a 256-row
    block drawn once and repeated, so large files cost no more to draw
    than small ones). Returns the bytes written."""
    block = []
    for _ in range(min(n_rows, 256)):
        row = []
        for col in header:
            if col == "sigla_tribunal":
                row.append(sigla)
            elif col == "ramo_justica":
                row.append(ramo)
            else:
                row.append(str(rng.randint(0, 500)))
        block.append(",".join(row) + "\n")
    text = "".join(block)
    full, rest = divmod(n_rows, len(block)) if block else (0, 0)
    with open(path, "w", encoding="utf-8", newline="") as fh:
        fh.write(",".join(header) + "\n")
        for _ in range(full):
            fh.write(text)
        fh.write("".join(block[:rest]))
    return os.path.getsize(path)


def _reference_courts(rng: random.Random) -> list[tuple[str, str, str, float]]:
    """(sigla, ramo, branch template, relative size) for the 90 courts."""
    out = [("TJSP", "Justiça Estadual", "estadual", 0.0)]  # the outlier
    out += [(f"TJ{i:02d}", "Justiça Estadual", "estadual", rng.uniform(2, 40))
            for i in range(26)]
    out += [(f"TRE-{i:02d}", "Justiça Eleitoral", "eleitoral",
             rng.uniform(0.25, 6)) for i in range(27)]
    out += [(f"TRT{i}", "Justiça do Trabalho", "trabalho", rng.uniform(0.5, 8))
            for i in range(24)]
    out += [(f"TRF{i + 1}", "Justiça Federal", "federal", rng.uniform(4, 30))
            for i in range(6)]
    out += [(f"TJM{i}", "Justiça Militar Estadual", "militar",
             rng.uniform(0.3, 2)) for i in range(3)]
    out += [("STM", "Justiça Militar da União", "militar", 1.5),
            ("STJ", "Tribunais Superiores", "estadual", 8.0),
            ("TST", "Tribunais Superiores", "trabalho", 5.0)]
    return out


def write_reference_corpus(out_dir: str, seed: int, total_bytes: int) -> int:
    """90 court CSVs totalling about ``total_bytes``; returns bytes written."""
    rng = random.Random(f"metas_reference_scale:{seed}")
    os.makedirs(out_dir, exist_ok=True)
    courts = _reference_courts(rng)
    rest = sum(size for *_, size in courts)
    outlier = REFERENCE_OUTLIER_SHARE * total_bytes
    total = 0
    for sigla, ramo, template, size in courts:
        target = outlier if size == 0.0 else size / rest * (total_bytes - outlier)
        header = IDENTITY + META1 + [META1_OPTIONAL] + _triples(BRANCH_KEYS[template])
        if sigla == "STJ":
            header += STJ_COLUMNS
        # Counters are 0-500: 2.78 digits and a comma on average.
        row_bytes = len(sigla) + len(ramo.encode()) + 3.78 * (len(header) - 2)
        total += _write_court(
            os.path.join(out_dir, f"teste_{sigla}.csv"), header, sigla, ramo,
            max(1, round(target / row_bytes)), rng,
        )
    return total


# ---------------------------------------------------------------------------
# Registry fixture: parquet tables with the test fixtures' schemas.
# ---------------------------------------------------------------------------
WORDS = ("key agg row scan slow fast table value part hash a merge batch "
         "spark the line sort window order data column join small customer "
         "query big stream group filter vector").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "es", "fr", "de", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EPOCH = dt.datetime(1995, 1, 1)


def _documents(rng: random.Random, n: int) -> dict[str, list]:
    """Random word docs; every sixth is a near-dup of an earlier doc (a few
    words replaced, tagged ``dup``), so the dedup queries find clusters."""
    texts: list[str] = []
    for i in range(n):
        if i % 6 == 5:
            words = rng.choice(texts).split()
            for _ in range(max(1, len(words) // 20)):
                words[rng.randrange(len(words))] = rng.choice(WORDS)
            texts.append(" ".join(words + ["dup"]))
        else:
            texts.append(" ".join(rng.choice(WORDS)
                                  for _ in range(rng.randint(8, 90))))
    return {
        "doc_id": list(range(n)),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": [len(t) for t in texts],
    }


def _registry_tables(rng: random.Random, sf: float) -> dict[str, dict[str, list]]:
    n_cust, n_part, n_supp = int(150_000 * sf), int(200_000 * sf), int(10_000 * sf)
    n_orders, n_items = int(1_500_000 * sf), int(6_000_000 * sf)
    n_events = int(1_000_000 * sf)
    day = dt.timedelta(days=1)
    t = {
        "region": {"r_regionkey": list(range(5)), "r_name": list(REGIONS)},
        "nation": {
            "n_nationkey": list(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": [i % 5 for i in range(25)],
        },
        "customer": {
            "c_custkey": list(range(n_cust)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": [rng.randrange(25) for _ in range(n_cust)],
            "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n_cust)],
            "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(n_cust)],
        },
        "supplier": {
            "s_suppkey": list(range(n_supp)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": [rng.randrange(25) for _ in range(n_supp)],
            "s_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n_supp)],
        },
        "part": {
            "p_partkey": list(range(n_part)),
            "p_name": [f"{rng.choice(['blue', 'red', 'small', 'big'])} "
                       f"{rng.choice(['anvil', 'ring', 'widget', 'gear'])}"
                       for _ in range(n_part)],
            "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(n_part)],
            "p_type": [rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                                   "SMALL", "STANDARD"]) for _ in range(n_part)],
            "p_size": [rng.randint(1, 50) for _ in range(n_part)],
            "p_retailprice": [round(900 + (i % 1000) / 10, 2) for i in range(n_part)],
        },
        "orders": {
            "o_orderkey": list(range(n_orders)),
            "o_custkey": [rng.randrange(n_cust) for _ in range(n_orders)],
            "o_orderstatus": [rng.choice("FOP") for _ in range(n_orders)],
            "o_totalprice": [round(rng.uniform(1000, 500000), 2) for _ in range(n_orders)],
            "o_orderdate": [EPOCH + rng.randrange(2400) * day for _ in range(n_orders)],
            "o_orderpriority": [rng.choice(PRIORITIES) for _ in range(n_orders)],
        },
        "events": {
            "event_id": list(range(n_events)),
            "ts": [dt.datetime(2024, 1, 1) + dt.timedelta(
                microseconds=rng.randrange(30 * 86_400_000_000))
                for _ in range(n_events)],
            "user_id": [rng.randrange(max(1, n_events // 66)) for _ in range(n_events)],
            "event_type": [rng.choice(EVENT_TYPES) for _ in range(n_events)],
            "value": [round(rng.uniform(0.01, 490), 2) for _ in range(n_events)],
            "props": [f'{{"k": {rng.randrange(10)}}}' for _ in range(n_events)],
        },
        "documents": _documents(rng, 200),
        "embeddings": {
            "vec_id": list(range(500)),
            "embedding": [[rng.gauss(0.0, 0.1) for _ in range(64)] for _ in range(500)],
            "label": [rng.randrange(10) for _ in range(500)],
        },
    }
    items: dict[str, list] = {k: [] for k in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate")}
    for _ in range(n_items):
        qty = rng.randint(1, 50)
        items["l_orderkey"].append(rng.randrange(n_orders))
        items["l_partkey"].append(rng.randrange(n_part))
        items["l_suppkey"].append(rng.randrange(n_supp))
        items["l_linenumber"].append(rng.randint(1, 7))
        items["l_quantity"].append(float(qty))
        items["l_extendedprice"].append(round(qty * rng.uniform(900, 2100), 2))
        items["l_discount"].append(rng.randint(0, 10) / 100)
        items["l_tax"].append(rng.randint(0, 8) / 100)
        items["l_returnflag"].append(rng.choice("ANR"))
        items["l_linestatus"].append(rng.choice("FO"))
        items["l_shipdate"].append(EPOCH + rng.randrange(2500) * day)
    t["lineitem"] = items
    return t


def _arrow_schemas():
    import pyarrow as pa

    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    return {
        "region": [("r_regionkey", i32), ("r_name", s)],
        "nation": [("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)],
        "customer": [("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                     ("c_acctbal", f64), ("c_mktsegment", s)],
        "supplier": [("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                     ("s_acctbal", f64)],
        "part": [("p_partkey", i64), ("p_name", s), ("p_brand", s),
                 ("p_type", s), ("p_size", i32), ("p_retailprice", f64)],
        "orders": [("o_orderkey", i64), ("o_custkey", i64),
                   ("o_orderstatus", s), ("o_totalprice", f64),
                   ("o_orderdate", ts), ("o_orderpriority", s)],
        "lineitem": [("l_orderkey", i64), ("l_partkey", i64),
                     ("l_suppkey", i64), ("l_linenumber", i32),
                     ("l_quantity", f64), ("l_extendedprice", f64),
                     ("l_discount", f64), ("l_tax", f64),
                     ("l_returnflag", s), ("l_linestatus", s),
                     ("l_shipdate", ts)],
        "events": [("event_id", i64), ("ts", ts), ("user_id", i64),
                   ("event_type", s), ("value", f64), ("props", s)],
        "documents": [("doc_id", i64), ("text", s), ("lang", s),
                      ("source", s), ("n_chars", i64)],
        "embeddings": [("vec_id", i64), ("embedding", pa.list_(pa.float32())),
                       ("label", i32)],
    }


def write_registry_fixture(out_dir: str, seed: int, sf: float) -> int:
    """The ten fixture tables at scale factor ``sf``; ``documents`` (200
    rows, which bounds the dedup queries' pair work) and ``embeddings``
    (500 rows, as in the small test fixtures) do not scale. Returns
    bytes written."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"registry_tail:{seed}")
    os.makedirs(out_dir, exist_ok=True)
    tables = _registry_tables(rng, sf)
    total = 0
    for name, fields in _arrow_schemas().items():
        schema = pa.schema(fields)
        table = pa.table({f: tables[name][f] for f, _ in fields}, schema=schema)
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total


def tree_digest(root: str) -> str:
    """SHA-256 over every file's relative path and bytes, in path order."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode() + b"\0")
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
