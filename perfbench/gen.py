"""Seeded input generators.

generate() writes the ETL corpus, laid out like the reference's working
directory (schema files plus one data directory per entity), and returns
the ground truth the checks compare the pipeline's outputs against: which
file is valid, which misses a required field, which carries a type error,
and the ids that must reach the CSV sinks. The schemas are the draft-07
user and card schemas of the ETL test fixtures.

generate_tables() writes the query workload's tables: the star schema,
the events stream, and the documents and embeddings tables, one parquet
file each, in the column layout `graft.Tables` reads.
"""
import datetime
import json
import math
import os
import random
import uuid

USER_SCHEMA = {
    "$schema": "http://json-schema.org/draft-07/schema#",
    "title": "Users",
    "type": "object",
    "properties": {
        "metadata": {
            "type": "object",
            "properties": {
                "type": {"type": "string"},
                "event_at": {"type": "string", "format": "date-time"},
                "event_id": {"type": "string", "format": "uuid"},
            },
            "required": ["type", "event_at", "event_id"],
        },
        "payload": {
            "type": "object",
            "properties": {
                "id": {"type": "integer"},
                "name": {"type": "string"},
                "address": {"type": "string"},
                "job": {"type": "string"},
                "score": {"type": "number"},
            },
            "required": ["id", "name", "address", "job", "score"],
        },
    },
    "required": ["metadata", "payload"],
}

CARD_SCHEMA = {
    "$schema": "http://json-schema.org/draft-07/schema#",
    "title": "Cards",
    "type": "object",
    "properties": {
        "payload": {
            "type": "object",
            "properties": {
                "id": {"type": "integer"},
                "user_id": {"type": "integer"},
                "created_by_name": {"type": "string"},
                "updated_at": {"type": "string", "format": "date-time"},
                "created_at": {"type": "string", "format": "date-time"},
                "active": {"type": "boolean"},
            },
            "required": ["id", "user_id", "created_by_name", "updated_at",
                         "created_at", "active"],
        },
        "metadata": {
            "type": "object",
            "properties": {
                "type": {"type": "string"},
                "event_at": {"type": "string", "format": "date-time"},
                "event_id": {"type": "string", "format": "uuid"},
            },
            "required": ["type", "event_at", "event_id"],
        },
    },
    "required": ["payload", "metadata"],
}

# Output columns of the v2 sinks, derived from the schemas' required lists
# (payload first, event_id appended, prefix/suffix around the name column).
HEADERS = {
    "users": ["id", "prefix", "name", "suffix", "address", "job", "score",
              "event_id"],
    "cards": ["id", "user_id", "prefix", "created_by_name", "suffix",
              "updated_at", "created_at", "active", "event_id"],
    "metadata": ["type", "event_at", "event_id"],
}

FIRST = ["Lawrence", "Alice", "Jane", "Bob", "Ann", "Juan", "Troy", "Justin",
         "Maria", "Wei", "Olu", "Priya", "Sven", "Chloe", "Ivan", "Aiko"]
LAST = ["Welch", "Stone", "Doe", "Smith", "Lee", "Cruz", "Rosario", "Miller",
        "Garcia", "Zhang", "Adeyemi", "Patel", "Larsen", "Martin", "Petrov"]
TITLES = ["Dr.", "Mr.", "Mrs.", "Ms."]
SUFFIXES = ["Jr.", "Sr.", "PhD", "III"]
STREETS = ["Main St", "Oak Ave", "Elm Rd", "Pine Ln", "Birch Blvd",
           "Rodriguez Ports", "Cedar Ct", "Walnut Way", "Maple Dr"]
CITIES = ["Paulbury, VI", "Springfield, IL", "Eastport, ME", "Lakeview, OR"]
JOBS = ["Commercial horticulturist", "Engineer, site reliability", "Architect",
        "Baker", "Chef", "Pilot", "Clerk", "Teacher, secondary school",
        "Scientist, research (maths)", "Nurse"]

# name of the field each defect class removes or mistypes, per entity
MISSING_FIELD = {"users": "score", "cards": "user_id"}
BAD_VALUE = {"users": ("score", "high"), "cards": ("active", "yes")}


def _name(rng):
    shape = rng.random()
    base = f"{rng.choice(FIRST)} {rng.choice(LAST)}"
    if shape < 0.2:
        return f"{rng.choice(TITLES)} {base}"
    if shape < 0.35:
        return f"{base} {rng.choice(SUFFIXES)}"
    if shape < 0.45:
        return f"{rng.choice(TITLES)} {base} {rng.choice(SUFFIXES)}"
    return base


def _ts(rng):
    return (f"2023-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d} "
            f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:"
            f"{rng.randint(0, 59):02d}")


def _event(entity, i, rng):
    meta = {"type": entity[:-1], "event_at": _ts(rng),
            "event_id": str(uuid.UUID(int=rng.getrandbits(128), version=4))}
    if entity == "users":
        payload = {
            "id": i,
            "name": _name(rng),
            "address": (f"{rng.randint(1, 9999)} {rng.choice(STREETS)}\n"
                        f"{rng.choice(CITIES)} {rng.randint(10000, 99999)}"),
            "job": rng.choice(JOBS),
            "score": rng.random(),
        }
        return {"metadata": meta, "payload": payload}
    created = _ts(rng)
    payload = {
        "id": i,
        "user_id": rng.randint(1, 100000),
        "created_by_name": _name(rng),
        "updated_at": max(created, _ts(rng)),
        "created_at": created,
        "active": rng.random() < 0.5,
    }
    return {"payload": payload, "metadata": meta}


def generate(base_dir, seed, files_per_entity, missing_share, type_share):
    """Write the corpus under base_dir and return its ground truth.

    Each entity gets files_per_entity files; a missing_share of them lose a
    required field and a type_share of them carry a mistyped value. The
    defective files are drawn without replacement, so the counts are exact.
    """
    rng = random.Random(seed)
    os.makedirs(base_dir, exist_ok=True)
    for name, schema in (("user-events-schema.json", USER_SCHEMA),
                         ("card-events-schema.json", CARD_SCHEMA)):
        with open(os.path.join(base_dir, name), "w") as f:
            json.dump(schema, f, indent=2)
    truth = {}
    for entity in ("users", "cards"):
        data_dir = os.path.join(base_dir, entity)
        os.makedirs(data_dir, exist_ok=True)
        n = files_per_entity
        n_missing = round(n * missing_share)
        n_type = round(n * type_share)
        defective = rng.sample(range(n), n_missing + n_type)
        missing = set(defective[:n_missing])
        mistyped = set(defective[n_missing:])
        id_base = rng.randint(1, 10**6)
        emitted, quarantined = [], []
        for i in range(n):
            ident = id_base + i
            ev = _event(entity, ident, rng)
            fname = f"{entity[0]}{i:06d}.json"
            if i in missing:
                del ev["payload"][MISSING_FIELD[entity]]
                quarantined.append(fname)
            elif i in mistyped:
                field, value = BAD_VALUE[entity]
                ev["payload"][field] = value
                quarantined.append(fname)
            if i not in mistyped:
                emitted.append(ident)
            with open(os.path.join(data_dir, fname), "w") as f:
                json.dump(ev, f)
        truth[entity] = {
            "files": n,
            "valid": n - n_missing - n_type,
            "invalid": n_missing + n_type,
            "emitted_ids": sorted(emitted),
            "quarantined": sorted(quarantined),
        }
    return truth


# Rows per table at scale 1 ("users": distinct events.user_id); documents
# and embeddings do not scale.
TABLE_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
              "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
              "users": 15_000}
DOCUMENTS = 500
EMBEDDINGS = 500
EMBEDDING_DIM = 64
EMBEDDING_LABELS = 10

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]


def _day(rng, first, last):
    """A midnight timestamp drawn uniformly from [first, last]."""
    return first + datetime.timedelta(days=rng.randint(0, (last - first).days))


def _table_columns(rng, scale):
    """Column lists of every table, keyed by table name."""
    n = {k: max(1, round(v * scale)) for k, v in TABLE_ROWS.items()}
    t = {}
    t["region"] = {"r_regionkey": list(range(5)), "r_name": REGIONS}
    t["nation"] = {"n_nationkey": list(range(25)),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": [i % 5 for i in range(25)]}
    t["customer"] = {
        "c_custkey": list(range(n["customer"])),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": [rng.randrange(25) for _ in range(n["customer"])],
        "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n["customer"])],
        "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(n["customer"])]}
    t["supplier"] = {
        "s_suppkey": list(range(n["supplier"])),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": [rng.randrange(25) for _ in range(n["supplier"])],
        "s_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n["supplier"])]}
    t["part"] = {
        "p_partkey": list(range(n["part"])),
        "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in range(n["part"])],
        "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(n["part"])],
        "p_type": [rng.choice(PART_TYPES) for _ in range(n["part"])],
        "p_size": [rng.randint(1, 50) for _ in range(n["part"])],
        "p_retailprice": [round(900 + (i % 1000) / 10, 2) for i in range(n["part"])]}
    first, last = datetime.datetime(1995, 1, 1), datetime.datetime(2001, 8, 1)
    t["orders"] = {
        "o_orderkey": list(range(n["orders"])),
        "o_custkey": [rng.randrange(n["customer"]) for _ in range(n["orders"])],
        "o_orderstatus": [rng.choice("FOP") for _ in range(n["orders"])],
        "o_totalprice": [round(rng.uniform(1000, 500000), 2) for _ in range(n["orders"])],
        "o_orderdate": [_day(rng, first, last) for _ in range(n["orders"])],
        "o_orderpriority": [rng.choice(PRIORITIES) for _ in range(n["orders"])]}
    ship_last = datetime.datetime(2001, 11, 4)
    t["lineitem"] = {
        "l_orderkey": [rng.randrange(n["orders"]) for _ in range(n["lineitem"])],
        "l_partkey": [rng.randrange(n["part"]) for _ in range(n["lineitem"])],
        "l_suppkey": [rng.randrange(n["supplier"]) for _ in range(n["lineitem"])],
        "l_linenumber": [rng.randint(1, 7) for _ in range(n["lineitem"])],
        "l_quantity": [float(rng.randint(1, 50)) for _ in range(n["lineitem"])],
        "l_extendedprice": [round(rng.uniform(900, 105000), 2) for _ in range(n["lineitem"])],
        "l_discount": [rng.randint(0, 10) / 100 for _ in range(n["lineitem"])],
        "l_tax": [rng.randint(0, 8) / 100 for _ in range(n["lineitem"])],
        "l_returnflag": [rng.choice("ANR") for _ in range(n["lineitem"])],
        "l_linestatus": [rng.choice("FO") for _ in range(n["lineitem"])],
        "l_shipdate": [_day(rng, first, ship_last) for _ in range(n["lineitem"])]}
    # events: increasing timestamps over 30 days, microsecond resolution
    span_us = 30 * 86400 * 10**6
    offsets = sorted(rng.randrange(span_us) for _ in range(n["events"]))
    t0 = datetime.datetime(2024, 1, 1)
    t["events"] = {
        "event_id": list(range(n["events"])),
        "ts": [t0 + datetime.timedelta(microseconds=o) for o in offsets],
        "user_id": [rng.randrange(n["users"]) for _ in range(n["events"])],
        "event_type": [rng.choice(EVENT_TYPES) for _ in range(n["events"])],
        "value": [round(rng.expovariate(1 / 50), 2) for _ in range(n["events"])],
        "props": [json.dumps({"k": rng.randrange(100)}) for _ in range(n["events"])]}
    # documents: random word sequences; one in twenty repeats an earlier
    # document with a suffix, so the dedup queries find near-duplicates
    texts = []
    for _ in range(DOCUMENTS):
        if texts and rng.random() < 0.05:
            texts.append(rng.choice(texts) + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS) for _ in range(rng.randint(10, 99))))
    t["documents"] = {
        "doc_id": list(range(DOCUMENTS)), "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(DOCUMENTS)],
        "source": [f"src{rng.randrange(20)}" for _ in range(DOCUMENTS)],
        "n_chars": [len(x) for x in texts]}
    # embeddings: unit vectors scattered around one centroid per label
    centroids = [[rng.gauss(0, 1) for _ in range(EMBEDDING_DIM)]
                 for _ in range(EMBEDDING_LABELS)]
    vecs, labels = [], []
    for _ in range(EMBEDDINGS):
        label = rng.randrange(EMBEDDING_LABELS)
        v = [c + rng.gauss(0, 0.8) for c in centroids[label]]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
        labels.append(label)
    t["embeddings"] = {"vec_id": list(range(EMBEDDINGS)), "embedding": vecs,
                       "label": labels}
    return t


def generate_tables(sf_dir, seed, scale):
    """Write every table as <sf_dir>/<name>.parquet; returns row counts.
    Integer keys of the small dimension tables and counts are 32-bit, as
    in the tables the query suite is written against."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    int32 = {"r_regionkey", "n_nationkey", "n_regionkey", "c_nationkey",
             "s_nationkey", "p_size", "l_linenumber", "label"}
    os.makedirs(sf_dir, exist_ok=True)
    rows = {}
    for name, cols in _table_columns(random.Random(seed), scale).items():
        arrays = {}
        for c, values in cols.items():
            if c in int32:
                arrays[c] = pa.array(values, pa.int32())
            elif c == "embedding":
                arrays[c] = pa.array(values, pa.list_(pa.float32()))
            elif isinstance(values[0], datetime.datetime):
                arrays[c] = pa.array(values, pa.timestamp("us"))
            else:
                arrays[c] = pa.array(values)
        pq.write_table(pa.table(arrays), os.path.join(sf_dir, f"{name}.parquet"))
        rows[name] = len(next(iter(cols.values())))
    return rows
