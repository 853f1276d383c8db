"""Seeded input generators for the benchmark workloads.

Every generator takes a seed and writes its inputs under an output
directory; the same seed gives the same bytes. Each one also returns (and
writes as ``truth.json``) the ground truth the output checks compare
against.

* ``operator_tables``: the ten input tables (region ... embeddings) in the
  shapes of the engine's sf test data: uniform TPC-H-like keys and values,
  an ``events`` stream with JSON props, a 31-word ``documents`` corpus
  with stated near-duplicate, exact-duplicate and eval-split collision
  counts, unit-norm 64-d ``embeddings``.
* ``etl_source``: a messy multilingual CSV in the ``messy_source.csv``
  shape, a ``{column -> {orig -> translated}}`` dictionary with one column
  above and one below the 1000-entry literal-map threshold, and a GHG
  ``DIM_*``/``FACT_*`` destination schema.
"""
import csv
import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per (seed, table), so adding a table
    never shifts another table's values."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.Generator(np.random.PCG64(int.from_bytes(digest[:8], "little")))


def write_parquet(tbl: pa.Table, path: str) -> None:
    # One row group per file, like the engine's test data: a scan of a
    # table is one task unless an operator widens it.
    pq.write_table(tbl, path, row_group_size=max(1, tbl.num_rows),
                   compression="snappy")


def _ts_us(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = (np.datetime64(base, "us") - EPOCH).astype(np.int64)
    return pa.array(start + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def _days(base: str, days: np.ndarray) -> pa.Array:
    return _ts_us(base, days.astype(np.int64) * 86_400_000_000)


def _texts(r: np.random.Generator, n: int) -> list:
    lengths = r.integers(10, 101, n)
    words = r.integers(0, len(WORDS), int(lengths.sum()))
    out, pos = [], 0
    for ln in lengths:
        out.append(" ".join(WORDS[w] for w in words[pos:pos + ln]))
        pos += ln
    return out


def _is_eval(doc_id: int) -> bool:
    """The engine's held-out split: md5 of the decimal id leads below '4'."""
    return hashlib.md5(str(doc_id).encode()).hexdigest()[0] < "4"


def documents_table(r: np.random.Generator, n: int, near_share: float,
                    exact_share: float) -> tuple:
    """``documents`` with planted duplicates. A near-duplicate is an
    earlier original's text plus the token ``dup``; an exact duplicate
    copies an original verbatim. Only originals are copied and each at
    most once per kind, so a duplicate component holds at most three
    documents (the original, one near copy, one exact copy)."""
    texts = _texts(r, n)
    n_near, n_exact = int(round(n * near_share)), int(round(n * exact_share))
    slots = r.permutation(np.arange(n // 2, n))[:n_near + n_exact]
    originals = r.permutation(np.arange(0, n // 2))
    near_of, exact_of = {}, {}
    for k, slot in enumerate(slots):
        if k < n_near:
            near_of[int(slot)] = int(originals[k])
        else:
            exact_of[int(slot)] = int(originals[k - n_near])
    for slot, orig in near_of.items():
        texts[slot] = texts[orig] + " dup"
    for slot, orig in exact_of.items():
        texts[slot] = texts[orig]
    pairs = list(near_of.items()) + list(exact_of.items())
    collisions = sum(1 for a, b in pairs if _is_eval(a) != _is_eval(b))
    tbl = pa.table({
        "doc_id": pa.array(np.arange(n), type=pa.int64()),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array([LANGS[i] for i in r.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i}" for i in r.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })
    truth = {"documents": n, "near_duplicates": len(near_of),
             "exact_duplicates": len(exact_of),
             "eval_split_collisions": collisions,
             "max_component_size": 3}
    return tbl, truth


def operator_tables(out: str, seed: int, sf: float, n_docs: int,
                    n_emb: int) -> dict:
    """The ten input tables at scale factor ``sf``."""
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32())})
    r = rng_for(seed, "customer")
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), type=pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), type=pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n_cust)]})
    r = rng_for(seed, "supplier")
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), type=pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), type=pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2)})
    r = rng_for(seed, "part")
    keys = np.arange(n_part)
    tables["part"] = pa.table({
        "p_partkey": pa.array(keys, type=pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), type=pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})
    r = rng_for(seed, "orders")
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), type=pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), type=pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, n_ord)],
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days("1995-01-01", r.integers(0, 2404, n_ord)),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, n_ord)]})
    r = rng_for(seed, "lineitem")
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_li), type=pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_li), type=pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li), type=pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_li), type=pa.int32()),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, n_li)],
        "l_shipdate": _days("1995-01-02", r.integers(0, 2499, n_li))})
    r = rng_for(seed, "events")
    span_us = 30 * 86_400_000_000
    offsets = np.sort(r.integers(0, span_us, n_ev))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), type=pa.int64()),
        "ts": _ts_us("2024-01-01", offsets),
        "user_id": pa.array(r.integers(0, n_users, n_ev), type=pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(r.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})
    tables["documents"], doc_truth = documents_table(
        rng_for(seed, "documents"), n_docs, near_share=0.05, exact_share=0.002)
    r = rng_for(seed, "embeddings")
    vecs = r.normal(0.0, 1.0, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), type=pa.float32())
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), type=pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n_emb * 64 + 1, 64), type=pa.int32()), flat),
        "label": pa.array(r.integers(0, 10, n_emb), type=pa.int32())})
    for name, tbl in tables.items():
        write_parquet(tbl, os.path.join(out, f"{name}.parquet"))
    truth = {"rows": {k: v.num_rows for k, v in tables.items()},
             "documents": doc_truth}
    _write_json(os.path.join(out, "truth.json"), truth)
    return truth


# --- etl_star -------------------------------------------------------------

PLACEHOLDERS = {"n/a", "none", "-", "null", ""}
DE_SHOP = [("Tankstelle", "Petrol station"), ("Bäckerei", "Bakery"),
           ("Gaststätte", "Restaurant"), ("Autohof", "Truck stop"),
           ("Apotheke", "Pharmacy"), ("Metzgerei", "Butcher"),
           ("Buchhandlung", "Bookshop"), ("Werkstatt", "Garage"),
           ("Reinigung", "Dry cleaner"), ("Schreibwaren", "Stationery")]
DE_NAME = ["Müller", "Schäfer", "Köhler", "Weiß", "Groß", "Jäger", "Schröder",
           "Böhm", "Krüger", "Hoffmann", "Lößner", "Würth"]
DE_CITY = ["München", "Köln", "Düsseldorf", "Nürnberg", "Lübeck", "Würzburg",
           "Göttingen", "Saarbrücken", "Osnabrück", "Fürth"]
ACCOUNTS = {
    "Hotel Ausland": "Hotel Abroad",
    "Verpflegungspauschale": "Meal package",
    "Nahverkehr Inland (Taxi, Bus, Bahn)": "Domestic public transport (taxi, bus, train)",
    "Anderes": "Other", "Geschenke": "Gifts",
    "Fortbildungskosten": "Training costs", "Peaje": "Toll",
    "Milersättning": "Mileage allowance", "Traktamente": "Per diem",
    "Hotell": "Hotel", "Parkgebühren": "Parking fees",
    "Bewirtungskosten": "Entertainment costs",
    "Reisekosten Inland": "Domestic travel costs",
    "Bürobedarf": "Office supplies", "Telefonkosten": "Telephone costs",
    "Kilometergeld": "Mileage money", "Übernachtung": "Overnight stay",
    "Mautgebühren": "Road tolls", "Flugkosten": "Flight costs",
    "Mietwagen": "Rental car", "Fachliteratur": "Specialist literature",
    "Arbeitskleidung": "Work clothes", "Konferenzgebühr": "Conference fee",
    "Resor Inrikes": "Domestic travel", "Parkering": "Parking",
    "Gasolina": "Petrol", "Comidas": "Meals", "Alojamiento": "Lodging",
    "Transporte público": "Public transport", "Dietas": "Allowances",
    "Frais de péage": "Toll charges", "Hébergement": "Accommodation",
    "Repas d'affaires": "Business meals", "Carburant": "Fuel"}
UNTRANSLATED_ACCOUNTS = ["Sonstige Auslagen", "Övrigt"]
EXPENSE_TYPES = [" food ", "Food", "travel", "Travel ", "hotel", "lodging",
                 "fuel", " Fuel"]
COUNTRIES = ["Germany", "Sweden", "Spain", "France", "Austria",
             "United Kingdom", "Netherlands", "Denmark"]
COMPANIES = ["Acme Logistics Ltd", "Northwind Freight", "Contoso Travel",
             "Globex Mobility", "Initech Services"]
UNITS = ["kWh", "km", "l", "night"]
SCOPES = ["Scope 1", "Scope 2", "Scope 3"]
DEST_SCHEMA = {
    "DIM_ActivityCategory": ["expense_type", "expenseaccountname", "scope"],
    "DIM_ActivityEmissionSource": ["merchant", "company"],
    "DIM_Country": ["country"],
    "DIM_Date": ["trip_date"],
    "FACT_EmissionActivityData": ["record_id", "amount", "amount_clean", "unit"],
}
HEADER = [" Expense Type ", "Col#1!", "Unnamed: 3", "empty_col", "merchant",
          "amount", "amount_clean", "trip_date", "expenseaccountname",
          "country", "company", "unit", " Scope ", "record_id"]
MERCHANT_PLACEHOLDERS = ["n/a", "-", "null", "", "N/A", " - "]


def clean_value(v):
    """One cleaning pass over a string cell: exact placeholder -> null,
    then trim (the engine's P5/P6)."""
    if v is None or v in PLACEHOLDERS:
        return None
    return v.strip()


def _merchants(r: np.random.Generator, n: int) -> list:
    """``n`` distinct German merchant names; every one carries an umlaut or
    sharp s, so any sample of them is detected NON-ENGLISH."""
    seen, out = set(), []
    while len(out) < n:
        shop = DE_SHOP[r.integers(0, len(DE_SHOP))][0]
        name = f"{shop} {DE_NAME[r.integers(0, len(DE_NAME))]} " \
               f"{DE_CITY[r.integers(0, len(DE_CITY))]} {r.integers(1, 100)}"
        if name not in seen:
            seen.add(name)
            out.append(name)
    return out


def _translate_merchant(name: str) -> str:
    shop, rest = name.split(" ", 1)
    return dict(DE_SHOP)[shop] + " " + rest


def etl_source(out: str, seed: int, rows: int, n_merchants: int = 3000) -> dict:
    """The messy CSV, its dictionary and the destination schema.

    Ground truth mirrors the flow EP1 -> EP2 -> EP3: each of the three
    steps runs the cleaning pass, so a translated column's expected value
    is ``dict.get(c(c(raw)), c(c(raw)))`` cleaned once more, with ``c`` =
    [clean_value]; unique ``record_id``s make every planted exact
    duplicate line the only duplicate rows.
    """
    os.makedirs(out, exist_ok=True)
    r = rng_for(seed, "etl")
    merchants = _merchants(r, n_merchants)
    # 90% of merchants have a dictionary entry; the rest fall back to
    # identity.
    merchant_dict = {m: _translate_merchant(m) for m in merchants
                     if r.random() < 0.9}
    accounts = list(ACCOUNTS) + UNTRANSLATED_ACCOUNTS
    # Zipf-like merchant frequencies: a realistic head for the top-N sample.
    weights = 1.0 / np.arange(1, n_merchants + 1) ** 0.8
    m_idx = r.choice(n_merchants, rows, p=weights / weights.sum())
    a_idx = r.integers(0, len(accounts), rows)
    placeholder_at = r.random(rows) < 0.01
    junk_date = r.random(rows) < 0.01
    lines = []
    for i in range(rows):
        merchant = merchants[m_idx[i]]
        if placeholder_at[i]:
            merchant = MERCHANT_PLACEHOLDERS[r.integers(0, len(MERCHANT_PLACEHOLDERS))]
        elif r.random() < 0.05:
            merchant = "  " + merchant + " "
        amount = f"{r.integers(1, 100000) / 100:.2f}"
        day = dt.date(2023, 1, 1) + dt.timedelta(days=int(r.integers(0, 365)))
        lines.append([
            EXPENSE_TYPES[r.integers(0, len(EXPENSE_TYPES))],
            ("x", "y", "z", "w")[r.integers(0, 4)],
            "junkcol" if r.random() < 0.1 else "",
            "",
            merchant,
            amount,
            f"{r.integers(1, 100000) / 100:.2f}",
            "junk" if junk_date[i] else f"{day.isoformat()} {r.integers(0, 24):02d}:00:00",
            accounts[a_idx[i]],
            COUNTRIES[r.integers(0, len(COUNTRIES))],
            COMPANIES[r.integers(0, len(COMPANIES))],
            UNITS[r.integers(0, len(UNITS))],
            SCOPES[r.integers(0, len(SCOPES))],
            f"REC-{i:08d}"])
    lines[0][5] = "12,5"  # one unparseable amount keeps the column a string
    n_dups = max(1, rows // 100)
    dup_src = r.choice(rows, n_dups, replace=False)
    all_lines = lines + [list(lines[j]) for j in dup_src]
    order = r.permutation(len(all_lines))
    csv_path = os.path.join(out, "source.csv")
    with open(csv_path, "w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh, lineterminator="\n")
        w.writerow(HEADER)
        for k in order:
            w.writerow(all_lines[k])
    dictionary = {"merchant": merchant_dict,
                  "expenseaccountname": dict(ACCOUNTS)}
    _write_json(os.path.join(out, "dictionary.json"), dictionary)
    _write_json(os.path.join(out, "dest_schema.json"), DEST_SCHEMA)

    def expected(col_idx: int, table: dict) -> dict:
        counts = {}
        for line in lines:
            v = clean_value(clean_value(line[col_idx]))
            if v is not None:
                v = clean_value(table.get(v, v))
            key = "\x00NULL" if v is None else v
            counts[key] = counts.get(key, 0) + 1
        return counts

    truth = {
        "input_rows": len(all_lines),
        "distinct_rows": rows,
        "tables": sorted(DEST_SCHEMA),
        "dictionary_sizes": {k: len(v) for k, v in dictionary.items()},
        "translated_columns": ["expenseaccountname", "merchant"],
        "value_counts": {
            "DIM_ActivityEmissionSource.merchant": expected(4, merchant_dict),
            "DIM_ActivityCategory.expenseaccountname": expected(8, ACCOUNTS)},
    }
    _write_json(os.path.join(out, "truth.json"), truth)
    return truth


def _write_json(path: str, obj) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(obj, fh, ensure_ascii=False, sort_keys=True, indent=1)
