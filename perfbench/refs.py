"""Reference results from DuckDB, computed in a child process.

    python3 perfbench/refs.py REQUEST.json RESULT.pickle

The child also writes the seeded query tables, so neither the input
generation (numpy, pyarrow) nor the references (DuckDB, the all-pairs
oracles) stay resident in, or spend CPU time of, the measured driver
process tree.  Requests:

* ``{"kind": "flagship", "paths": {name: [parquet files]}}``: for each
  named file set of the token table, its per-(sink, source) aggregate,
  recomputed over the same parquet and ``datagen.source_lookup_pandas()``;
  result ``{name: (columns, rows)}``.
* ``{"kind": "queries", "sf_dir": D, "seed": S, "rows": {table: n},
  "names": [...]}``: writes the tables under ``D``, then runs each named
  ``queries.ORACLES`` SQL on them; result ``{name: (columns, rows)}``.
"""

from __future__ import annotations

import json
import os
import pickle
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

FLAGSHIP_SQL = """
WITH t AS (
  SELECT source, n_tok,
         CAST(regexp_extract(raw, '^<([0-9]+)>', 1) AS INTEGER) AS pri
  FROM read_parquet({files})),
j AS (SELECT t.*, l.source_weight, l.route_tag
      FROM t LEFT JOIN lookup l USING (source))
SELECT CASE WHEN pri < 192 AND (pri & 7) <= 3 THEN 'errors'
            WHEN route_tag = 'quality' THEN 'quality'
            WHEN route_tag = 'code' THEN 'code'
            ELSE 'bulk' END AS sink,
       source, COUNT(*) AS count, SUM(n_tok) AS sum_tokens,
       AVG(n_tok) AS avg_ntok,
       AVG(n_tok * COALESCE(source_weight, 0.0)) AS avg_weighted
FROM j GROUP BY 1, 2
"""


def compute(request: dict, work: str):
    """Run ``request`` in a child Python process and return its result."""
    req = os.path.join(work, f"ref-{request['kind']}.json")
    out = os.path.join(work, f"ref-{request['kind']}.pickle")
    with open(req, "w") as fh:
        json.dump(request, fh)
    subprocess.run([sys.executable, os.path.abspath(__file__), req, out],
                   check=True)
    with open(out, "rb") as fh:
        return pickle.load(fh)


def _rows(con, sql: str):
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def flagship(request: dict):
    import duckdb

    from pastash_spark import datagen
    con = duckdb.connect()
    try:
        con.register("lookup", datagen.source_lookup_pandas())
        return {name: _rows(con, FLAGSHIP_SQL.format(files=files))
                for name, files in request["paths"].items()}
    finally:
        con.close()


def queries(request: dict):
    import duckdb

    import inputs
    from pastash_spark.queries import ORACLES
    sf_dir = request["sf_dir"]
    inputs.write_query_tables(sf_dir, request["seed"], request["rows"])
    con = duckdb.connect()
    try:
        for t in request["rows"]:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(sf_dir, t)}.parquet'")
        return {q: _rows(con, ORACLES[q]) for q in request["names"]}
    finally:
        con.close()


if __name__ == "__main__":
    sys.path[:0] = [os.path.dirname(HERE), HERE]
    req_path, out_path = sys.argv[1:]
    with open(req_path) as fh:
        req = json.load(fh)
    result = {"flagship": flagship, "queries": queries}[req["kind"]](req)
    with open(out_path, "wb") as fh:
        pickle.dump(result, fh)
