"""DuckDB twins of every answer the benchmark checks.

Dashboard and curation twins are the registered ``oracles.py`` SQL, with
the dashboard's literals swapped for the request's parameters. The
incremental-dedup twin generalises ``oracles.dedup_stream_sql`` from its
fixed two-batch parity split to any sequence of disjoint batches. The
ingest twin recomputes the expected silver table from the webhook files.
"""

from __future__ import annotations

import os

import duckdb

from xboard_spark.oracles import (
    MINHASH_P,
    N_BANDS,
    N_PERMS,
    TOKEN_RE_SQL,
    _NORM_TEXT,
    _X_MASK,
    _fp,
    all_oracles,
    minhash_params,
)

from perfbench.common import canonical


def connect(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')"
        )
    return con


def run(con, sql: str) -> tuple:
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    return canonical(res.fetchall(), cols)


# ---------------------------------------------------------------- dashboard


def _subst(sql: str, old: str, new: str) -> str:
    if sql.count(old) != 1:
        raise ValueError(f"twin literal {old!r} found {sql.count(old)} times")
    return sql.replace(old, new)


def dashboard_sql(endpoint: str, param) -> str:
    """The oracle SQL of ``endpoint`` with ``param`` bound."""
    o = all_oracles()
    if endpoint == "overview":
        return o["overview"]
    if endpoint == "orders_by_date":
        start, end = param
        sql = _subst(o["orders_by_date_range"], "TIMESTAMP '1996-01-01 00:00:00'",
                     f"TIMESTAMP '{start} 00:00:00'")
        return _subst(sql, "TIMESTAMP '1996-12-31 00:00:00'",
                      f"TIMESTAMP '{end} 00:00:00'")
    if endpoint == "top_customers":
        return _subst(o["top_customers"], "LIMIT 5", f"LIMIT {int(param)}")
    if endpoint == "recent_orders":
        return _subst(o["recent_orders"], "LIMIT 10", f"LIMIT {int(param)}")
    if endpoint == "customer_lookup":
        return _subst(o["customer_lookup"], "c_custkey = 42",
                      f"c_custkey = {int(param)}")
    if endpoint == "tenant_orders_overview":
        return _subst(o["tenant_orders_overview"], "c_nationkey = 7",
                      f"c_nationkey = {int(param)}")
    if endpoint == "sql_orders_since":
        return _subst(o["sql_orders_since"], "TIMESTAMP '1997-01-01 00:00:00'",
                      f"TIMESTAMP '{param} 00:00:00'")
    if endpoint == "sql_status_panel":
        return o["sql_status_panel"]
    raise KeyError(endpoint)


# ------------------------------------------------- incremental dedup index


def add_batch_sql(batches: list[list[int]], k: int, n: int = 3,
                  tau: float = 0.5, max_df: int = 100) -> str:
    """Pairs that ``IncrementalDedupIndex.add_batch`` emits for batch
    ``k`` after batches ``0..k-1`` were indexed: the new batch's band
    keys against every indexed band key, canonicalised, verified by exact
    Jaccard on the union of the per-batch df-capped inverted indexes."""
    params = minhash_params(N_PERMS)
    rows_per_band = N_PERMS // N_BANDS
    shingle = " || ' ' || ".join(f"words[i+{j}]" for j in range(n))
    sig_exprs = ",\n  ".join(
        f"min(((shfp & {_X_MASK}) * {a} + {b}) % {MINHASH_P}) AS sig_{i}"
        for i, (a, b) in enumerate(params)
    )

    def stack(j: int) -> str:
        ids = ", ".join(str(int(d)) for d in batches[j]) or "NULL"
        bands = "\nUNION ALL\n".join(
            f"SELECT doc_id, {bi} AS band, "
            + _fp("concat_ws(',', " + ", ".join(
                f"sig_{bi * rows_per_band + r}::VARCHAR"
                for r in range(rows_per_band)) + ")")
            + f" AS bh FROM sigs{j}"
            for bi in range(N_BANDS)
        )
        return f"""docs{j} AS (
  SELECT doc_id, list_distinct(list_transform(shingles, s -> {_fp('s')})) AS fps
  FROM (
    SELECT doc_id,
      CASE WHEN len(words) >= {n}
        THEN list_transform(generate_series(1, len(words) - {n - 1}), i -> {shingle})
        ELSE [] END AS shingles
    FROM (SELECT doc_id, regexp_extract_all({_NORM_TEXT}, '{TOKEN_RE_SQL}') AS words
          FROM documents WHERE doc_id IN ({ids}))
  ) WHERE len(shingles) > 0
),
inv0_{j} AS (SELECT doc_id, unnest(fps) AS shfp FROM docs{j}),
dfok{j} AS (SELECT shfp FROM inv0_{j} GROUP BY shfp HAVING count(*) <= {max_df}),
inv{j} AS (SELECT inv0_{j}.doc_id, inv0_{j}.shfp
           FROM inv0_{j} JOIN dfok{j} USING (shfp)),
sigs{j} AS (SELECT doc_id, {sig_exprs} FROM inv{j} GROUP BY doc_id),
bands{j} AS ({bands})"""

    stacks = ",\n".join(stack(j) for j in range(k + 1))
    allbands = " UNION ALL ".join(f"SELECT * FROM bands{j}" for j in range(k + 1))
    allinv = " UNION ALL ".join(f"SELECT * FROM inv{j}" for j in range(k + 1))
    return f"""
WITH {stacks},
allbands AS ({allbands}),
allinv AS ({allinv}),
cand AS (
  SELECT least(o.doc_id, nw.doc_id) AS doc_a, greatest(o.doc_id, nw.doc_id) AS doc_b
  FROM allbands o JOIN bands{k} nw ON o.band = nw.band AND o.bh = nw.bh
  WHERE o.doc_id <> nw.doc_id GROUP BY 1, 2
),
sizes AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM allinv GROUP BY doc_id),
shared AS (
  SELECT c.doc_a, c.doc_b, count(*)::BIGINT AS shared
  FROM cand c
  JOIN allinv a ON a.doc_id = c.doc_a
  JOIN allinv b ON b.doc_id = c.doc_b AND b.shfp = a.shfp
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b, round(shared / (sa.n_sh + sb.n_sh - shared), 6) AS jaccard
  FROM shared s
  JOIN sizes sa ON sa.doc_id = s.doc_a
  JOIN sizes sb ON sb.doc_id = s.doc_b
)
SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= {tau}"""


# ------------------------------------------------------------------ ingest

SILVER_COLS = ("tenant_id", "shopify_order_id", "total_price", "currency",
               "created_at", "raw", "created_recorded_at")


def expected_silver(input_dir: str) -> tuple:
    """The silver table the webhook files must produce: per order key,
    the version from the latest file that first delivered it (a
    redelivered line is byte-identical to its first delivery)."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    sql = f"""
WITH l AS (
  SELECT *, CAST(regexp_extract(filename, 'f(\\d+)\\.json$', 1) AS BIGINT) AS seq
  FROM read_json('{input_dir}/*/*.json', format='newline_delimited',
                 filename=true, columns={{
                   'tenant_id': 'BIGINT', 'topic': 'VARCHAR',
                   'shop_domain': 'VARCHAR', 'received_at': 'VARCHAR',
                   'delivery_hash': 'VARCHAR', 'raw_payload': 'VARCHAR'}})
),
first AS (
  SELECT delivery_hash, min(seq) AS seq, any_value(tenant_id) AS tenant_id,
         any_value(topic) AS topic, any_value(received_at) AS received_at,
         any_value(raw_payload) AS raw_payload
  FROM l GROUP BY delivery_hash
),
o AS (
  SELECT tenant_id,
         CAST(json_extract(raw_payload, '$.id') AS BIGINT) AS shopify_order_id,
         CAST(json_extract_string(raw_payload, '$.total_price') AS DECIMAL(18,2))
           AS total_price,
         json_extract_string(raw_payload, '$.currency') AS currency,
         CAST(json_extract_string(raw_payload, '$.created_at') AS TIMESTAMP)
           AS created_at,
         raw_payload AS raw,
         CAST(received_at AS TIMESTAMP) AS created_recorded_at,
         row_number() OVER (PARTITION BY tenant_id,
           CAST(json_extract(raw_payload, '$.id') AS BIGINT)
           ORDER BY seq DESC) AS rn
  FROM first WHERE topic LIKE 'orders/%'
)
SELECT {', '.join(SILVER_COLS)} FROM o WHERE rn = 1"""
    return run(con, sql)


def actual_silver(silver_dir: str) -> tuple:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET TimeZone = 'UTC'")
    return run(con, f"SELECT {', '.join(SILVER_COLS)} FROM "
                    f"read_parquet('{silver_dir}/*.parquet')")
