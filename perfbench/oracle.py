"""DuckDB reference for ``validate_documents`` over the synthetic documents.

An independent engine re-derives, from the same parquet input, what the
Spark plan must report: per partition the row count, the number of
violation rows and the number of distinct violating doc ids. It encodes
the rule catalog of ``engine.spans`` (DOC-EMPTY, SPAN-KIND-ENUM,
SPAN-OFFSET-MONO, SPAN-MUTEX), DUP-DOC-ID over the whole table and
REF-DANGLING against the asset catalog.
"""

from __future__ import annotations

import duckdb

from datavalidation_spark.datagen import KINDS

_SQL = """
WITH d AS (
    SELECT doc_id, part_id, spans, spans IS NULL OR len(spans) = 0 AS empty,
        list_bool_or(list_transform(spans,
            s -> s.kind IS NULL OR s.kind NOT IN ({kinds}))) AS bad_kind,
        list_bool_or(list_transform(spans, s -> struct_extract(s, 'offset') IS NULL))
        OR coalesce(list_bool_or(list_transform(range(2, len(spans) + 1),
            i -> coalesce(struct_extract(spans[i], 'offset')
                          <= struct_extract(spans[i - 1], 'offset'), true))), false)
            AS bad_offset,
        list_bool_or(list_transform(spans,
            s -> CASE WHEN s.kind = 'text' THEN s.text IS NULL OR s.media_ref IS NOT NULL
                      ELSE s.media_ref IS NULL OR s.text IS NOT NULL END)) AS mutex
    FROM {docs}
),
dups AS (SELECT doc_id FROM d GROUP BY doc_id HAVING count(*) > 1),
refs AS (
    SELECT DISTINCT doc_id, part_id, media_ref FROM (
        SELECT doc_id, part_id,
            unnest(list_filter(list_transform(spans, s -> s.media_ref), r -> r IS NOT NULL))
                AS media_ref
        FROM d)
),
viol AS (
    SELECT part_id, doc_id,
        CASE WHEN empty THEN 1
             ELSE bad_kind::INT + bad_offset::INT + mutex::INT END AS n
    FROM d
    UNION ALL SELECT part_id, doc_id, 1 FROM d JOIN dups USING (doc_id)
    UNION ALL SELECT part_id, doc_id, 1 FROM refs
        WHERE media_ref NOT IN (SELECT media_ref FROM {catalog})
),
rows_per_part AS (SELECT part_id, count(*) AS row_count FROM d GROUP BY part_id)
SELECT p.part_id, p.row_count,
       coalesce(sum(v.n), 0) AS violation_count,
       count(DISTINCT v.doc_id) AS violating_rows
FROM rows_per_part p LEFT JOIN (SELECT * FROM viol WHERE n > 0) v USING (part_id)
GROUP BY p.part_id, p.row_count
"""


def expected_verdicts(docs_glob: str, catalog_glob: str) -> dict[int, tuple[int, int, int]]:
    """``part_id -> (row_count, violation_count, violating_rows)`` computed
    by DuckDB from parquet files (hive-partitioned directories allowed)."""
    sql = _SQL.format(
        docs=f"read_parquet('{docs_glob}', hive_partitioning = true)",
        catalog=f"read_parquet('{catalog_glob}')",
        kinds=", ".join(f"'{k}'" for k in KINDS),
    )
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        rows = con.execute(sql).fetchall()
    finally:
        con.close()
    return {int(p): (int(r), int(v), int(u)) for p, r, v, u in rows}
