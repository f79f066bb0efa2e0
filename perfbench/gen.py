"""Seeded input generators owned by the benchmark.

Everything the program under test reads is written here as files: the
information_schema snapshot the catalog is built from and the replay
corpora. Each corpus generator also returns what a correct pipeline must
put, computed from the generator's own model of the wire format, never
by calling the package.
"""

from __future__ import annotations

import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SCHEMA = pa.schema(
    [("lsn", pa.int64()), ("data_size", pa.int32()), ("payload", pa.string())]
)

# (schema, table, [(column, type)], pk columns in ordinal order, value kind).
# `public.line_items` has a composite key: the catalog keeps the column
# with the highest ordinal position, so its messages carry `line_no`.
TABLES = [
    ("public", "accounts", [("id", "integer"), ("email", "text"), ("balance", "numeric")], ["id"], "int"),
    ("public", "sessions", [("token", "uuid"), ("user_id", "integer")], ["token"], "uuid"),
    ("public", "users", [("name", "character varying"), ("age", "integer")], ["name"], "name"),
    ("billing", "invoices", [("amount", "numeric"), ("invoice_id", "bigint"), ("note", "text")], ["invoice_id"], "int"),
    ("public", "line_items", [("order_id", "integer"), ("line_no", "integer"), ("sku", "text")], ["order_id", "line_no"], "int"),
    ("audit", "events", [("kind", "text"), ("seq", "bigint")], ["seq"], "int"),
]

TD_OPS = ("INSERT", "UPDATE", "DELETE")
W2J_OPS = ("insert", "update", "delete")
NULL_PK_RATE = 0.02


def write_catalog(out_dir: str) -> dict[str, str]:
    """information_schema.{tables,table_constraints,key_column_usage,
    columns} as parquet, the inputs of ``catalog.build_pk_catalog``.
    A view and a non-key constraint are included so the snapshot query
    has rows to filter out."""
    cat = "bench"
    tables = [(cat, s, t, "BASE TABLE") for s, t, *_ in TABLES]
    tables.append((cat, "public", "active_users", "VIEW"))
    constraints, kcu, columns = [], [], []
    for s, t, cols, pks, _ in TABLES:
        cn = f"{t}_pkey"
        constraints.append((cat, s, cn, cat, s, t, "PRIMARY KEY"))
        constraints.append((cat, s, f"{t}_check", cat, s, t, "CHECK"))
        types = dict(cols)
        for ordinal, pk in enumerate(pks, start=1):
            kcu.append((cat, s, cn, cat, s, t, pk, ordinal))
            columns.append((cat, s, t, pk, types[pk]))
    specs = {
        "tables": (tables, "table_catalog table_schema table_name table_type"),
        "table_constraints": (
            constraints,
            "constraint_catalog constraint_schema constraint_name table_catalog "
            "table_schema table_name constraint_type",
        ),
        "key_column_usage": (
            kcu,
            "constraint_catalog constraint_schema constraint_name table_catalog "
            "table_schema table_name column_name ordinal_position",
        ),
        "columns": (columns, "table_catalog table_schema table_name column_name data_type"),
    }
    paths = {}
    for name, (rows, cols) in specs.items():
        names = cols.split()
        arrays = [
            pa.array([r[i] for r in rows], pa.int32() if n == "ordinal_position" else pa.string())
            for i, n in enumerate(names)
        ]
        paths[name] = os.path.join(out_dir, f"info_{name}.parquet")
        pq.write_table(pa.Table.from_arrays(arrays, names=names), paths[name])
    return paths


def _value(rng: random.Random, kind: str) -> str:
    if kind == "uuid":
        h = "%032x" % rng.getrandbits(128)
        return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"
    if kind == "name":
        return f"user-{rng.randrange(100000)}"
    return str(rng.randrange(1, 10_000_000))


def _write_corpus(rows: list[tuple[int, str]], path: str) -> None:
    # one row group per 64k rows, like a segmented WAL archive
    lsns = [r[0] for r in rows]
    payloads = [r[1] for r in rows]
    sizes = [len(p.encode()) for p in payloads]
    t = pa.Table.from_arrays(
        [pa.array(lsns, pa.int64()), pa.array(sizes, pa.int32()), pa.array(payloads, pa.string())],
        schema=CORPUS_SCHEMA,
    )
    pq.write_table(t, path, row_group_size=65536)


def test_decoding_corpus(seed: int, n_txns: int, path: str) -> tuple[list[int], list[tuple[int, str, bytes]]]:
    """BEGIN/COMMIT-framed transactions of 1-4 DML lines. The key column
    sits anywhere in the tuple, and ~2% of keys print as ``null``.

    Returns (LSN of every wire line, expected (LSN, partition key,
    message) list in put order) for the operations ("INSERT", "UPDATE",
    "DELETE"): every DML line formats to
    '0,CDC,<xid>,<schema.table>,<OP>,<pk>', keyed by its xid."""
    rng = random.Random(seed)
    rows: list[tuple[int, str]] = []
    expected: list[tuple[int, str, bytes]] = []
    lsn, xid = 16_000_000 + rng.randrange(1000), 700 + rng.randrange(100)

    def emit(payload: str) -> None:
        nonlocal lsn
        rows.append((lsn, payload))
        lsn += rng.randrange(24, 400)

    for _ in range(n_txns):
        xid += rng.randrange(1, 4)
        emit(f"BEGIN {xid}")
        for _ in range(rng.randrange(1, 5)):
            schema, name, cols, pks, kind = rng.choice(TABLES)
            pk_name = pks[-1]
            op = rng.choice(TD_OPS)
            fields, pk = [], None
            for col, typ in rng.sample(cols, len(cols)):
                if col == pk_name:
                    pk = "null" if rng.random() < NULL_PK_RATE else _value(rng, kind)
                    quoted = typ not in ("integer", "bigint") and pk != "null"
                    val = f"'{pk}'" if quoted else pk
                elif typ in ("integer", "bigint", "numeric"):
                    val = str(rng.randrange(100000))
                else:
                    val = f"'v{rng.randrange(1000)}'"
                fields.append(f"{col}[{typ}]:{val}")
            expected.append((lsn, str(xid), f"0,CDC,{xid},{schema}.{name},{op},{pk}".encode()))
            emit(f"table {schema}.{name}: {op}: {' '.join(fields)}")
        emit("COMMIT")
    _write_corpus(rows, path)
    return [r[0] for r in rows], expected


def wal2json_corpus(seed: int, n_msgs: int, path: str) -> tuple[list[int], list[tuple[int, str, bytes]]]:
    """wal2json messages with 0-3 changes each; the key column's position
    varies and ~2% of key values are JSON null (formatted as 'None').

    Returns (LSN of every wire message, expected (LSN, partition key,
    message) list in put order) for CSVPayload with every operation
    selected: one message per change, keyed by the message's xid."""
    rng = random.Random(seed)
    rows: list[tuple[int, str]] = []
    expected: list[tuple[int, str, bytes]] = []
    lsn, xid = 32_000_000 + rng.randrange(1000), 9000 + rng.randrange(100)
    for _ in range(n_msgs):
        xid += rng.randrange(1, 4)
        changes = []
        for _ in range(rng.choice((0, 1, 1, 1, 2, 3))):
            schema, name, cols, pks, kind = rng.choice(TABLES)
            pk_name = pks[-1]
            op = rng.choice(W2J_OPS)
            names, types, values, pk = [], [], [], None
            for col, typ in rng.sample(cols, len(cols)):
                if col == pk_name:
                    pk = None if rng.random() < NULL_PK_RATE else _value(rng, kind)
                    v = int(pk) if (pk is not None and kind == "int") else pk
                elif typ in ("integer", "bigint", "numeric"):
                    v = rng.randrange(100000)
                else:
                    v = f"v{rng.randrange(1000)}"
                names.append(col)
                types.append(typ)
                values.append(v)
            changes.append(
                {"kind": op, "schema": schema, "table": name,
                 "columnnames": names, "columntypes": types, "columnvalues": values}
            )
            body = json.dumps(
                {"xid": xid, "table": f"{schema}.{name}", "operation": op,
                 "pkey": "None" if pk is None else pk},
                separators=(",", ":"),
            )
            expected.append((lsn, str(xid), ("0,CDC," + body).encode()))
        rows.append((lsn, json.dumps({"xid": xid, "change": changes})))
        lsn += rng.randrange(24, 400)
    _write_corpus(rows, path)
    return [r[0] for r in rows], expected
