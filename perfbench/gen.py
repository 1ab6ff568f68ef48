"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its seed: the same seed gives
byte-identical files.  The program under test only ever sees the files.

* ``bacen_rows`` / ``write_bacen_csv`` — BACEN complaint rows shaped like the
  reference feed: the 14 raw accented headers, ``;`` separator, ISO-8859-1,
  decimal commas, about 10% empty values in each nullable field and
  institution names of 10-120 UTF-8 bytes (so Avro length varints of both
  one and two bytes occur).
* ``write_star_schema`` — the TPC-H-like star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables the query registry reads, at a
  given scale factor (sf 0.1 = 600,000 lineitem rows).
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

RAW_HEADER = [
    "Ano",
    "Trimestre",
    "Categoria",
    "Tipo",
    "CNPJ IF",
    "Instituição financeira",
    "Índice",
    "Quantidade de reclamações reguladas procedentes",
    "Quantidade de reclamações reguladas - outras",
    "Quantidade de reclamações não reguladas",
    "Quantidade total de reclamações",
    "Quantidade total de clientes  CCS e SCR",
    "Quantidade de clientes  CCS",
    "Quantidade de clientes  SCR",
]

# Positions (in RAW_HEADER / Avro field order) of the nullable Avro fields.
NULLABLE_POSITIONS = (4, 8, 9, 12, 13)
NULL_SHARE = 0.10

_CATEGORIAS = [
    "Bancos e financeiras",
    "Demais bancos, financeiras e instituições de pagamento",
    "Conglomerados",
    "Cooperativas de crédito",
]
_TIPOS = [
    "Banco Múltiplo",
    "Banco Comercial",
    "Cooperativa de Crédito",
    "Financeira",
    "Instituição de Pagamento",
]
_NAME_WORDS = [
    "BANCO", "DO", "DA", "BRASIL", "SÃO", "PAULO", "CRÉDITO", "COOPERATIVA",
    "INVESTIMENTOS", "S.A.", "PARANÁ", "AÇÕES", "ECONÔMICA", "FEDERAL",
    "CAIXA", "NORDESTE", "MÚTUO", "POUPANÇA", "FINANCIAMENTO", "INSTITUIÇÃO",
    "PAGAMENTOS", "GOIÁS", "CEARÁ", "MARANHÃO", "RIBEIRÃO", "PRETO", "SUL",
]


def _institution_names(rng: random.Random, n: int) -> list[str]:
    """Upper-case names whose UTF-8 lengths spread over [10, 120] bytes."""
    names = []
    for _ in range(n):
        target = rng.randint(12, 120)
        name = rng.choice(_NAME_WORDS)
        while len(name.encode("utf-8")) < target:
            name += " " + rng.choice(_NAME_WORDS)
        names.append(name.encode("utf-8")[:target].decode("utf-8", "ignore").rstrip())
    return names


def bacen_rows(seed: int, n_rows: int, first_serial: int = 0) -> list[tuple]:
    """``n_rows`` rows in Avro field order; ``None`` marks an empty CSV cell.

    Every row carries a distinct serial (``first_serial`` upwards) in a
    non-nullable count field, so any duplicate or lost row is visible."""
    names = _institution_names(random.Random(seed), 997)
    rng = np.random.default_rng(seed)

    def ints(lo: int, hi: int) -> list[str]:
        return rng.integers(lo, hi + 1, n_rows).astype(str).tolist()

    def pick(values: list[str]) -> list[str]:
        return np.array(values, dtype=object)[rng.integers(0, len(values), n_rows)].tolist()

    cols = [
        ints(2019, 2024),
        [f"{q}º" for q in rng.integers(1, 5, n_rows).tolist()],
        pick(_CATEGORIAS),
        pick(_TIPOS),
        np.char.zfill(rng.integers(0, 10**8, n_rows).astype(str), 8).tolist(),
        pick(names),
        [f"{a},{b:02d}" for a, b in zip(rng.integers(0, 1000, n_rows).tolist(),
                                         rng.integers(0, 100, n_rows).tolist())],
        ints(0, 5000),
        ints(0, 900),
        ints(0, 900),
        ints(0, 9000),
        [str(10_000_000 + first_serial + i) for i in range(n_rows)],
        ints(0, 2_000_000),
        ints(0, 2_000_000),
    ]
    for pos in NULLABLE_POSITIONS:
        empty = (rng.random(n_rows) < NULL_SHARE).tolist()
        cols[pos] = [None if e else v for e, v in zip(empty, cols[pos])]
    return list(zip(*cols))


def write_bacen_csv(path: str, rows: list[tuple]) -> None:
    lines = [";".join(RAW_HEADER)]
    lines.extend(";".join("" if v is None else v for v in row) for row in rows)
    with open(path, "w", encoding="iso-8859-1", newline="") as fh:
        fh.write("\n".join(lines) + "\n")


def land_bacen_csv(directory: str, name: str, rows: list[tuple]) -> str:
    """Write under a hidden temp name, then rename to ``<name>.csv`` so a
    file-source listing never sees a half-written file."""
    tmp = os.path.join(directory, f".{name}.tmp")
    write_bacen_csv(tmp, rows)
    final = os.path.join(directory, f"{name}.csv")
    os.replace(tmp, final)
    return final


# --------------------------------------------------------------------------
# Star schema for the query registry.

_VOCAB = (
    "a the spark window merge table column vector stream value data small "
    "join filter big group hash customer sort order slow line part fast row "
    "agg key query scan batch"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_MKTSEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
_PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng: np.random.Generator, start: str, span_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_events = max(1000, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_MKTSEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    adj = np.array(_PART_ADJ)[rng.integers(0, len(_PART_ADJ), n_part)]
    noun = np.array(_PART_NOUN)[rng.integers(0, len(_PART_NOUN), n_part)]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 20_000) * 0.1, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_line),
    })
    gaps = rng.exponential(30 * 86400 / n_events, n_events)
    ts = np.datetime64("2024-01-01", "us") + (np.cumsum(gaps) * 1e6).astype(
        "timedelta64[us]"
    )
    t["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(150, n_cust // 10), n_events, dtype=np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    vocab = np.array(_VOCAB)
    texts = []
    for _ in range(n_docs):
        if texts and rng.random() < 0.05:
            # near-duplicate of an earlier document, for the dedup family
            texts.append(texts[int(rng.integers(0, len(texts)))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(8, 100))]))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n_docs, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_vecs, dtype=np.int32)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 1.5, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels,
    })
    return t


def write_star_schema(directory: str, seed: int, sf: float) -> None:
    os.makedirs(directory, exist_ok=True)
    for name, table in star_tables(seed, sf).items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
