"""Pure-Python oracle for the reference's five schema rules.

Written from the reference's per-column loop (``app.py:41-105``), not
from the Spark engine, so the benchmark checks every audit against an
independent implementation.  The semantics it keeps:

- only the first constrained column of a foreign key counts as covered,
  so the tail of a composite key is not;
- ``unique=None`` counts as not unique;
- Rule 2 matches ``startswith("id")`` as well as ``endswith("id")`` on
  the lowercased name, and its recommendation ends in a space (the
  reference's adjacent f-strings);
- Rule 3 matches keywords as substrings of the lowercased name;
- names are compared lowercased, type names as reflected.
"""

from __future__ import annotations

MONETARY_KEYWORDS = ("price", "amount", "total", "cost", "value", "balance", "rate")
EXPECTED_TYPES = {"rating": "FLOAT", "created_at": "DATETIME", "order_date": "DATETIME"}
NON_NULLABLE_COLUMNS = ("email", "price", "total_amount", "order_date", "rating")

CSV_HEADER = ("Table", "Column", "Issue Type", "Issue", "Recommendation")


def detect(columns, indexes, foreign_keys) -> list[tuple]:
    """Issues as ``(table, column, issue_type, issue, recommendation,
    rule_id)`` sorted by (table, column, rule_id), the engine's order."""
    indexed = {(db, t, c) for db, t, _, c, _ in indexes}
    fk_first = {(db, t, cols[0]) for db, t, _, cols, _, _ in foreign_keys if cols}
    out = []
    for db, table, col, _, dtype, length, nullable, unique, pk in columns:
        key = (db, table, col)
        name = col.lower()
        if dtype in ("VARCHAR", "TEXT") and length is not None and length >= 255 and not unique and key not in indexed:
            out.append((table, col, "Query performance - missing index",
                        f"Large {dtype} column '{col}' in '{table}' is not indexed.",
                        f"Add an index on '{table}({col})' to improve query performance.", 1))
        if (name.endswith("id") or name.startswith("id")) and not pk and key not in fk_first and key not in indexed:
            out.append((table, col, "Normalization - Data integrity",
                        f"Potential foreign key column '{col}' is not properly defined.",
                        f"Define a foreign key constraint and index for '{col}' referencing "
                        f"the appropriate table and add the correct kind of index. ", 2))
        if any(k in name for k in MONETARY_KEYWORDS) and dtype not in ("DECIMAL", "NUMERIC"):
            out.append((table, col, "Data type - Precision error",
                        f"Monetary column '{col}' is of type '{dtype}', expected DECIMAL or NUMERIC.",
                        f"Consider changing the column '{table}({col})' to DECIMAL or NUMERIC for "
                        f"better precision in monetary calculations.", 3))
        expected = EXPECTED_TYPES.get(name)
        if expected is not None and dtype != expected:
            out.append((table, col, "Data type mismatch",
                        f"Column '{col}' has type '{dtype}', expected '{expected}'.",
                        f"Change column '{table}({col})' to '{expected}' to match the expected type defined", 4))
        if name in NON_NULLABLE_COLUMNS and nullable:
            out.append((table, col, "Data Integrity - NULL values not allowed",
                        f"Critical column '{col}' allows NULL values.",
                        f"Alter column '{table}({col})' to NOT NULL to maintain data integrity.", 5))
    out.sort(key=lambda r: (r[0].encode(), r[1].encode(), r[5]))
    return out


def report_text(issues: list[tuple], database: str, limit: int = 1000) -> str:
    """The console report ``sinks.print_report`` must return."""
    if not issues:
        return f'No issues detected in schema "{database}".'
    lines = [f'Schema "{database}" issues detected:']
    for table, col, issue_type, issue, rec, _ in issues[:limit]:
        lines += [f"Table: {table}", f"Column: {col}", f"Issue Type: {issue_type}",
                  f"Issue: {issue}", f"Recommendation: {rec}\n"]
    return "\n".join(lines)


def csv_rows(issues: list[tuple]) -> list[tuple]:
    """The rows ``sinks.write_csv`` must write.  Spark's CSV writer
    trims leading and trailing whitespace by default, which drops Rule
    2's trailing space."""
    return [tuple(field.strip() for field in issue[:5]) for issue in issues]
