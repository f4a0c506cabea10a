"""Re-pin graftbench/expected.json from oracle-checked outputs.

    python3 graftbench/pin.py

1. Dumps every benchmark op's output at the configured scale with
   `graft.Verify` (parquet per query, plus oracle_sql.json).
2. Runs the repo's DuckDB oracle check (scripts/check.py) over those
   dumps; any FAIL aborts, so nothing unverified is pinned.
3. Digests each dump with the benchmark's own full-consume digest and
   writes (rows, hash). Ops without an oracle are pinned by row count
   only.
4. Pins the ingest gate's keep count per corpus copy from the
   q_quality_ensemble oracle, evaluated in DuckDB.

Writes only under .bench_build/graftbench/pin and graftbench/expected.json.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
from run import ADD_OPENS, SF_DIR  # noqa: E402


def java(classes, *args, cores=2):
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={build.OUT}",
            f"-Dspark.local.dir={os.path.join(build.OUT, 'spark-local')}"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", cp] + list(args))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    return subprocess.run(cmd, check=True, capture_output=True, text=True, env=env).stdout


def gate_keep_count(sf, oracle_sql):
    import duckdb
    sys.path.insert(0, os.path.join(build.ROOT, "scripts"))
    import check
    con = duckdb.connect()
    for t in check.TABLES:
        # the Spark loader seam for documents, as scripts/check.py sets it up
        body = ("SELECT * REPLACE (replace(text, chr(11), ' ') AS text)" if t == "documents"
                else "SELECT *")
        con.execute(f"CREATE VIEW {t} AS {body} FROM '{sf}/{t}.parquet'")
    return con.sql(f"WITH q AS ({oracle_sql}) SELECT count(*) FROM q WHERE keep").fetchone()[0]


def main():
    sf = SF_DIR
    classes = build.build()
    names = java(classes, "graftbench.Pin", "names").split()
    work = os.path.join(build.OUT, "pin")
    shutil.rmtree(work, ignore_errors=True)
    dump, checked = os.path.join(work, "dump"), os.path.join(work, "checked")
    java(classes, "graft.Verify", sf, dump, *names)
    with open(os.path.join(dump, "oracle_sql.json")) as fh:
        oracles = json.load(fh)

    # the oracle check over exactly the benchmark's ops
    os.makedirs(checked)
    with_oracle = [n for n in names if n in oracles]
    for n in with_oracle:
        os.symlink(os.path.join(dump, n), os.path.join(checked, n))
    with open(os.path.join(checked, "oracle_sql.json"), "w") as fh:
        json.dump({n: oracles[n] for n in with_oracle}, fh)
    check = subprocess.run([sys.executable, os.path.join(build.ROOT, "scripts", "check.py"),
                            sf, checked], capture_output=True, text=True)
    passed = {line.split()[1] for line in check.stdout.splitlines() if line.startswith("PASS ")}
    if check.returncode != 0 or passed != set(with_oracle):
        sys.stdout.write(check.stdout)
        raise SystemExit("pin: oracle check failed; nothing pinned")

    ops = {}
    for line in java(classes, "graftbench.Pin", dump).splitlines():
        if line.startswith("PIN "):
            _, name, rows, h = line.split()
            ops[name] = ({"rows": int(rows), "hash": h, "check": "hash"} if name in passed
                         else {"rows": int(rows), "check": "rows"})
    expected = {
        "provenance": f"outputs of graft.Verify at {sf}; hash-pinned ops passed "
                      "scripts/check.py (DuckDB oracles); rows-only ops have no oracle",
        "ops": ops,
        "ingest": {"gated_per_copy": gate_keep_count(sf, oracles["q_quality_ensemble"])},
    }
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"pin: {len(passed)} ops hash-pinned, {len(ops) - len(passed)} rows-only, "
          f"gate keeps {expected['ingest']['gated_per_copy']} docs per copy")


if __name__ == "__main__":
    main()
