"""Seeded metadata catalogs for the audit workload.

A catalog is three lists of row tuples in the ``catalog/schemas.py``
shapes (columns, indexes, foreign keys).  Every table is drawn from one
column vocabulary that covers each rule's trigger and its near misses,
and every catalog also carries one planted table that makes all five
rules fire together with the reference's quirks: a composite foreign key
whose second column stays uncovered, an ``idempotency_key`` column that
Rule 2's ``startswith("id")`` catches, a keyword hit inside a longer
name, and ``unique=None``.  The same seed gives the same rows.
"""

from __future__ import annotations

import numpy as np

# (name, data types to draw from, VARCHAR/TEXT lengths to draw from)
VOCAB = [
    ("name", ["VARCHAR"], [100, 255]),
    ("title", ["VARCHAR"], [255, 300]),
    ("description", ["TEXT", "VARCHAR"], [1000, 65535]),
    ("notes", ["TEXT"], [65535]),
    ("username", ["VARCHAR"], [64, 255]),
    ("email", ["VARCHAR"], [100, 255]),
    ("status", ["VARCHAR"], [16, 32]),
    ("payload", ["VARCHAR", "TEXT"], [100, 4000]),
    ("price", ["DECIMAL", "FLOAT", "DOUBLE"], []),
    ("total_amount", ["DECIMAL", "FLOAT"], []),
    ("unit_cost", ["DECIMAL", "NUMERIC", "DOUBLE"], []),
    ("balance", ["DECIMAL", "FLOAT"], []),
    ("exchange_rate", ["DECIMAL", "DOUBLE"], []),
    ("rating", ["FLOAT", "TINYINT"], []),
    ("created_at", ["DATETIME", "DATE", "TIMESTAMP"], []),
    ("order_date", ["DATETIME", "DATE"], []),
    ("updated_at", ["DATETIME"], []),
    ("quantity", ["INTEGER"], []),
    ("is_active", ["BOOLEAN"], []),
    ("customer_id", ["INTEGER", "BIGINT"], []),
    ("product_id", ["INTEGER"], []),
    ("order_id", ["INTEGER"], []),
    ("user_id", ["INTEGER", "BIGINT"], []),
    ("warehouse_id", ["INTEGER"], []),
    ("bin_id", ["INTEGER"], []),
    ("identity_hash", ["VARCHAR"], [64]),
    ("corporate_rate_x", ["VARCHAR"], [32]),
    ("valuation", ["VARCHAR", "DECIMAL"], [255]),
    ("paid", ["BOOLEAN"], []),
]
ENTITIES = ["users", "orders", "items", "payments", "shipments", "reviews", "events", "ledger"]
TEXT_TYPES = ("VARCHAR", "TEXT")


def _planted(db: str, table: str) -> tuple[list, list, list]:
    """One table on which all five rules and the quirks fire."""
    columns = [
        (db, table, "shipment_id", 1, "INTEGER", None, False, None, True),
        (db, table, "warehouse_id", 2, "INTEGER", None, False, None, False),
        (db, table, "bin_id", 3, "INTEGER", None, False, None, False),  # R2: composite-FK tail
        (db, table, "idempotency_key", 4, "VARCHAR", 64, False, None, False),  # R2: startswith
        (db, table, "corporate_rate_x", 5, "VARCHAR", 32, True, None, False),  # R3: substring
        (db, table, "notes", 6, "TEXT", 65535, True, None, False),  # R1: unique=None
        (db, table, "Rating", 7, "TINYINT", None, True, None, False),  # R4 + R5
        (db, table, "summary", 8, "VARCHAR", 300, True, True, False),  # unique: no R1
    ]
    indexes = [
        (db, table, "PRIMARY", "shipment_id", True),
        (db, table, f"ix_{table}_wh", "warehouse_id", False),
    ]
    fks = [
        (db, table, f"fk_{table}_loc", ["warehouse_id", "bin_id"], "bins", ["warehouse_id", "bin_id"]),
    ]
    return columns, indexes, fks


def generate(seed: int, n_tables: int, db: str = "bench_db"):
    """Return ``(columns, indexes, foreign_keys)`` row lists for a
    catalog of ``n_tables`` tables, each random table 3 to 10 columns
    wide."""
    rng = np.random.default_rng(seed)
    columns: list[tuple] = []
    indexes: list[tuple] = []
    fks: list[tuple] = []
    planted_at = int(rng.integers(0, n_tables))
    tables = [f"{ENTITIES[i % len(ENTITIES)]}_{i}" for i in range(n_tables)]
    for t, table in enumerate(tables):
        if t == planted_at:
            c, i, f = _planted(db, table)
            columns += c
            indexes += i
            fks += f
            continue
        width = int(rng.integers(3, 11))
        pk = f"{ENTITIES[t % len(ENTITIES)][:-1]}_id"
        columns.append((db, table, pk, 1, "INTEGER", None, False, None, True))
        indexes.append((db, table, "PRIMARY", pk, True))
        picks = rng.choice(len(VOCAB), width - 1, replace=False)
        draws = rng.random((width - 1, 6))
        id_cols = []
        for k, (v, u) in enumerate(zip(picks, draws)):
            name, types, lengths = VOCAB[v]
            if name == pk:
                name = "parent_" + name
            if u[0] < 0.1:
                name = name.capitalize()
            dtype = types[int(u[1] * len(types))]
            length = lengths[int(u[2] * len(lengths))] if dtype in TEXT_TYPES and lengths else None
            unique = None if u[3] < 0.7 else bool(u[3] < 0.8)
            columns.append((db, table, name, k + 2, dtype, length, bool(u[4] < 0.6), unique, False))
            if u[5] < 0.25:
                indexes.append((db, table, f"ix_{table}_{name}", name, bool(u[3] >= 0.9)))
            if name.lower().endswith("_id"):
                id_cols.append(name)
        if len(id_cols) >= 2 and rng.random() < 0.3:
            target = tables[int(rng.integers(0, n_tables))]
            fks.append((db, table, f"fk_{table}_pair", id_cols[:2], target, id_cols[:2]))
        elif id_cols and rng.random() < 0.5:
            target = tables[int(rng.integers(0, n_tables))]
            fks.append((db, table, f"fk_{table}_{id_cols[0]}", [id_cols[0]], target, ["id"]))
    return columns, indexes, fks
