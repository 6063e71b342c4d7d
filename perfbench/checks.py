"""Output checks: each op's result is checked once per run, untimed.

iterative_sf01: each query's result (parquet, written by the checked pass)
is compared with its DuckDB twin (`SparkEntry.oracleSql`) as a digest of
its rows in sorted-column, sorted-row order. Digests recorded from the
oracle for each input variant live in expected/<workload>.json together
with a hash of the oracle SQL they came from; when the SQL changes, or the
variant has no record, the oracle runs live.

omim_release: the artifacts' row counts and order-independent digests are
compared with the variant's recorded values, and cross-checked against the
counts the generator fixes by construction.
"""
import glob
import hashlib
import json
import math
import os
import re

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ARTIFACTS = ["omim.ttl", "review.tsv", "mondo-omim-susceptibility-subset.robot.tsv",
             "mondo-omim-genes.robot.tsv", "disease-gene-relationships-qc.tsv",
             "omim.sssom.tsv", "morbidmap-protected-added.tsv",
             "mim2gene-protected-added.tsv"]
CORPUS_TABLES = ["documents", "embeddings"]


def expected_path(workload):
    return os.path.join(HERE, "expected", f"{workload}.json")


def load_expected(workload):
    p = expected_path(workload)
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return {"sql_sha": {}, "variants": {}}


def save_expected(workload, exp):
    os.makedirs(os.path.dirname(expected_path(workload)), exist_ok=True)
    with open(expected_path(workload), "w") as f:
        json.dump(exp, f, indent=1, sort_keys=True)
        f.write("\n")


def sha(text):
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def _norm(v):
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


def rows_digest(con, relation_sql):
    cols = sorted(con.sql(relation_sql).columns)
    rows = con.sql(f"SELECT {', '.join(cols)} FROM ({relation_sql}) ORDER BY ALL").fetchall()
    return {"rows": len(rows),
            "digest": sha(repr((cols, [tuple(map(_norm, r)) for r in rows])))}


def oracle_digest(data_dir, sql):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{os.path.dirname(data_dir)}/duckdb_tmp'")
    for t in CORPUS_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    try:
        return rows_digest(con, sql)
    finally:
        con.close()


def check_queries(workload, variant, data_dir, work, oracles, record=False):
    """Returns {op: {"ok", "got", "want", "source"}}."""
    exp = load_expected(workload)
    recorded = exp["variants"].get(str(variant), {})
    out = {}
    for op, sql in sorted(oracles.items()):
        files = glob.glob(f"{work}/check/{op}/*.parquet")
        if not files:
            out[op] = {"ok": False, "got": None, "want": None, "source": "no output"}
            continue
        con = duckdb.connect()
        got = rows_digest(con, f"SELECT * FROM '{work}/check/{op}/*.parquet'")
        con.close()
        if not record and exp["sql_sha"].get(op) == sha(sql) and op in recorded:
            want, source = recorded[op], "recorded oracle"
        else:
            want, source = oracle_digest(data_dir, sql), "live oracle"
            if record:
                exp["sql_sha"][op] = sha(sql)
                exp["variants"].setdefault(str(variant), {})[op] = want
        out[op] = {"ok": got == want, "got": got, "want": want, "source": source}
    if record and all(r["ok"] for r in out.values()):
        save_expected(workload, exp)
    return out


def _artifact_lines(path):
    lines = []
    for part in sorted(glob.glob(f"{path}/part-*")):
        with open(part, encoding="utf-8") as f:
            lines.extend(f.read().splitlines())
    return lines


CLASS = re.compile(r"^OMIM:\d+ rdf:type owl:Class \.$")
OBSOLETE = re.compile(r'^OMIM:\d+ owl:deprecated "true" \.$')


def release_counts(release_dir):
    """By-construction counts read back from the written artifacts."""
    ttl = _artifact_lines(f"{release_dir}/omim.ttl")
    on_ro, svf_omim = set(), set()
    for ln in ttl:
        if ln.endswith(" owl:onProperty RO:0004003 ."):
            on_ro.add(ln.split(" ", 1)[0])
        elif " owl:someValuesFrom OMIM:" in ln:
            svf_omim.add(ln.split(" ", 1)[0])
    sssom = [ln for ln in _artifact_lines(f"{release_dir}/omim.sssom.tsv")
             if not ln.startswith("#")]
    return {"classes": sum(1 for ln in ttl if CLASS.match(ln)),
            "obsolete_classes": sum(1 for ln in ttl if OBSOLETE.match(ln)),
            "ro_0004003_on_omim": len(on_ro & svf_omim),
            "sssom_rows": len(sssom) - 1}


def check_release(workload, variant, release_dir, expect, record=False):
    """Returns {name: {"ok", "got", "want", "source"}} for the construction
    counts and for each artifact's digest."""
    out = {}
    got_counts = release_counts(release_dir)
    for k, want in expect.items():
        out[f"count:{k}"] = {"ok": got_counts[k] == want, "got": got_counts[k],
                             "want": want, "source": "generator construction"}
    exp = load_expected(workload)
    recorded = exp["variants"].get(str(variant), {})
    digests = {}
    for a in ARTIFACTS:
        lines = _artifact_lines(f"{release_dir}/{a}")
        digests[a] = {"rows": len(lines), "digest": sha("\n".join(sorted(lines)))}
        if a in recorded and not record:
            out[f"artifact:{a}"] = {"ok": digests[a] == recorded[a], "got": digests[a],
                                    "want": recorded[a], "source": "recorded release"}
        else:
            out[f"artifact:{a}"] = {"ok": digests[a]["rows"] > 0 and record, "got": digests[a],
                                    "want": None, "source": "not recorded"}
    if record and all(r["ok"] for r in out.values()):
        exp["variants"][str(variant)] = digests
        save_expected(workload, exp)
    return out
