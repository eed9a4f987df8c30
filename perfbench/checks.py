"""Untimed correctness checks, one per workload.

Each check returns (failed_op_ids, messages): the ids of timed ops whose
result was wrong, and one line per mismatch found. A check that cannot
attribute a mismatch to one op names it with id -1, which still counts
as one failed op.
"""
import glob
import importlib.util
import json
import os

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))


def _hash_rule():
    """`canon` and `value_hash` of the repository's oracle compare script,
    so the benchmark grades results by the same rule as the oracle gate."""
    path = os.path.join(HERE, "..", "tools", "compare_oracle.py")
    spec = importlib.util.spec_from_file_location("compare_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon, mod.value_hash


canon, value_hash = _hash_rule()


def same(a: pd.DataFrame, b: pd.DataFrame):
    """None when equal under the hash rule, else a one-line reason."""
    a, b = canon(a), canon(b)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    if value_hash(a) != value_hash(b):
        return "value hash differs"
    return None


def etl(raw, input_dir):
    facts = raw["facts"]
    con = duckdb.connect()
    clean = os.path.join(input_dir, "etl", "clean", "*.csv")
    # the reference's cleaning recomputed from the landing zone: corrupt
    # lines dropped, missing categoricals -> UNKNOWN, trimmed and lower-cased,
    # one row per key keeping the lowest price, then the derived columns
    expected = con.execute(f"""
        WITH raw AS (
          SELECT * FROM read_csv('{clean}', header = true, ignore_errors = true,
            timestampformat = '%Y-%m-%d %H:%M:%S',
            columns = {{'l_orderkey': 'BIGINT', 'l_linenumber': 'INTEGER',
              'l_partkey': 'BIGINT', 'l_suppkey': 'BIGINT', 'l_quantity': 'DOUBLE',
              'l_extendedprice': 'DOUBLE', 'l_discount': 'DOUBLE', 'l_tax': 'DOUBLE',
              'l_returnflag': 'VARCHAR', 'l_linestatus': 'VARCHAR',
              'l_shipdate': 'TIMESTAMP'}})),
        norm AS (
          SELECT * REPLACE (
            lower(trim(coalesce(l_returnflag, 'UNKNOWN'))) AS l_returnflag,
            lower(trim(coalesce(l_linestatus, 'UNKNOWN'))) AS l_linestatus)
          FROM raw)
        SELECT *, l_extendedprice * (1 - l_discount) AS net_price,
               year(l_shipdate) AS ship_year
        FROM norm
        QUALIFY row_number() OVER (PARTITION BY l_orderkey, l_linenumber
                                   ORDER BY l_extendedprice) = 1""").df()
    failed, msgs = [], []
    for op in raw["ops"] + raw["traced_ops"]:
        if op["ok"] and not op["aborted"] and op["loaded"] != len(expected):
            failed.append(op["id"])
            msgs.append(f"run {op['id']} loaded {op['loaded']} rows, expected {len(expected)}")
    if "table_dump" not in facts:
        return failed + [-1], msgs + [f"no table dump: {facts.get('finish_error')}"]
    got = pd.read_parquet(facts["table_dump"])
    stamp = pd.Timestamp(facts["last_pass_stamp_ms"], unit="ms")
    if not (pd.to_datetime(got["extracted_at"]) == stamp).all():
        failed.append(-1)
        msgs.append("final table holds rows of an older run (upsert did not take the latest)")
    if not got["source_file"].str.contains("/etl/clean/").all():
        failed.append(-1)
        msgs.append("final table holds rows from outside the clean landing zone")
    why = same(got.drop(columns=["source_file", "extracted_at"]), expected)
    if why:
        failed.append(-1)
        msgs.append(f"final table differs from the DuckDB recompute: {why}")
    return failed, msgs


def mix(raw, _input_dir):
    facts = raw["facts"]
    if "dump_dir" not in facts:
        return [-1], [f"no query dumps: {facts.get('finish_error')}"]
    con = duckdb.connect()
    tables = facts["tables_dir"]
    for f in glob.glob(os.path.join(tables, "*.parquet")):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    failed, msgs = [], []
    for q, sql in sorted(facts["oracle_sql"].items()):
        why = "no oracle SQL" if not sql else None
        if not why:
            try:
                why = same(pd.read_parquet(os.path.join(facts["dump_dir"], q)), con.execute(sql).df())
            except Exception as e:  # a broken oracle or dump is a failed check
                why = f"{type(e).__name__}: {e}"
        if why:
            ids = [op["id"] for op in raw["ops"] + raw["traced_ops"] if op["name"] == q]
            failed += ids or [-1]
            msgs.append(f"{q}: {why}")
    return failed, msgs


def _replay(input_dir, commit_versions):
    """Versions of the churn table rebuilt from the script alone."""
    d = os.path.join(input_dir, "churn")
    script = json.load(open(os.path.join(d, "script.json")))
    state = pd.read_parquet(os.path.join(d, "seed.parquet")).set_index("o_orderkey", drop=False)
    states = {1: state}
    by_step = {op["step"]: op for op in script["ops"]}
    for step, version in commit_versions:
        op = by_step[step]
        if op["kind"] in ("append", "upsert", "merge"):
            # every batch row carries ver = step, above any ver in the
            # table, so upsert and merge both replace matched keys
            b = pd.read_parquet(os.path.join(d, op["batch"])).set_index("o_orderkey", drop=False)
            state = pd.concat([state.drop(index=b.index, errors="ignore"), b])
        else:
            k = state["o_orderkey"]
            hit = (k >= op["lo"]) & (k < op["hi"]) & (state["o_custkey"] % op["mod"] == op["rem"])
            if op["kind"] == "delete":
                state = state[~hit]
            else:
                state = state.copy()
                state.loc[hit, "o_totalprice"] = state.loc[hit, "o_totalprice"] + 1.5
                state.loc[hit, "ver"] = step
        states[version] = state
    return states


def churn(raw, input_dir):
    facts = raw["facts"]
    if "commit_versions" not in facts:
        return [-1], [f"no churn facts: {facts.get('finish_error')}"]
    states = _replay(input_dir, facts["commit_versions"])
    failed, msgs = [], []
    for op in raw["ops"] + raw["traced_ops"]:
        if op["kind"] != "read" or not op["ok"] or op["name"] == "changes":
            continue
        s = states.get(op["version"])
        want = None if s is None else (len(s), int(s["o_orderkey"].sum()), int(s["ver"].sum()))
        got = (op["rows"], op["key_sum"], op["ver_sum"])
        if got != want:
            failed.append(op["id"])
            msgs.append(f"{op['name']} read at v{op['version']}: {got}, replay {want}")
    for v in facts["dumped_versions"]:
        why = same(pd.read_parquet(os.path.join(facts["dump_dir"], f"v{v}")),
                   states[v].reset_index(drop=True)) if v in states else "version not in replay"
        if why:
            failed.append(-1)
            msgs.append(f"snapshot v{v} differs from the replay: {why}")
    return failed, msgs


CHECKS = {"etl_gated_load": etl, "analytics_mix": mix, "table_log_churn": churn}
