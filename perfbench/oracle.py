"""Answer checking against DuckDB over the benchmark's tables.

Serving answers are compared with SQL over graft's own triple-view
definition (`TpchRdf.oracleCte`); batch results with the query's
`SparkEntry.oracleSql` text, the comparison the project's oracle gate
makes (rows sorted, columns by name, floats to 9 significant figures).
"""
import glob
import json
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

BASE = "urn:graft:"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


class Oracle:
    def __init__(self, data_dir, triples_cte=None):
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        if triples_cte:
            # the served default graph is the RDF merge of the store's
            # graphs: a set, so a triple the tables state twice (sf 0.01
            # repeats some lineitem keys) is one triple
            self.con.execute(f"CREATE TABLE triples AS WITH {triples_cte} "
                             "SELECT DISTINCT * FROM triples")
        self._cache = {}

    def rows(self, sql):
        if sql not in self._cache:
            self._cache[sql] = sorted(tuple(None if v is None else str(v) for v in r)
                                      for r in self.con.execute(sql).fetchall())
        return self._cache[sql]

    def check_request(self, req, answer):
        """True when a parsed serving answer is the expected one."""
        if "expect_bool" in req:
            return answer == req["expect_bool"]
        if "expect_rows" in req:
            return answer == sorted(req["expect_rows"])
        if req.get("ask"):
            return answer == (self.con.execute(req["sql"]).fetchone()[0] is True)
        return answer == self.rows(req["sql"])

    def check_batch(self, name, sql, result_dir):
        """None when the parquet result under `result_dir` equals the
        oracle's answer, else a one-line reason."""
        files = glob.glob(os.path.join(result_dir, "*.parquet"))
        if not files:
            return "no result written"
        got = self.con.execute(f"SELECT * FROM '{result_dir}/*.parquet'").df()
        want = self.con.execute(sql).df()
        if sorted(got.columns) != sorted(want.columns):
            return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
        if canon(got) != canon(want):
            return f"{len(got)} rows differ from the oracle's {len(want)}"
        return None


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)

    def norm(v):
        if v is None or v != v:
            return "NULL"
        if isinstance(v, float):
            return f"{v:.9g}"
        return str(v)
    return sorted(tuple(norm(v) for v in row) for row in df.itertuples(index=False, name=None))


def term(binding):
    """A SPARQL JSON term as the store spells it (IRIs lose the base)."""
    if binding is None:
        return None
    v = binding["value"]
    if binding["type"] == "uri":
        return "type" if v == RDF_TYPE else (v[len(BASE):] if v.startswith(BASE) else v)
    return v


def parse_select(body):
    doc = json.loads(body)
    if "boolean" in doc:
        return doc["boolean"]
    names = doc["head"]["vars"]
    return sorted(tuple(term(b.get(v)) for v in names) for b in doc["results"]["bindings"])


def _nt_term(tok):
    if tok.startswith("<"):
        return term({"type": "uri", "value": tok[1:-1]})
    return json.loads(tok)


def parse_ntriples(body):
    out = []
    for line in body.splitlines():
        line = line.strip()
        if not line:
            continue
        s, p, rest = line.split(" ", 2)
        o = rest[:rest.rindex(" .")] if rest.endswith(" .") else rest.rstrip(".").strip()
        out.append((_nt_term(s), _nt_term(p), _nt_term(o)))
    return sorted(out)
