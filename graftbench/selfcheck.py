"""Self-checks of the benchmark itself.

    python3 graftbench/selfcheck.py seeds     # inputs and order follow the seed
    python3 graftbench/selfcheck.py oracles   # oracles accept right, reject wrong
    python3 graftbench/selfcheck.py metrics   # every declared metric, by name and unit
    python3 graftbench/selfcheck.py           # all three

Run from the repository root. Exits 1 on the first failed check.
``metrics`` runs ``run.py`` untraced and traced on every workload (a few
minutes) and prints each metric with its unit.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import run  # noqa: E402
import workloads  # noqa: E402
from oracles import FAST, TableOracle, canon_rows, compare  # noqa: E402

SCRATCH = os.path.join(run.WORK, "selfcheck")


def _fail(msg: str) -> None:
    print(f"FAIL {msg}")
    sys.exit(1)


def _digests(path: str) -> dict[str, str]:
    return {
        f: hashlib.sha256(open(os.path.join(path, f), "rb").read()).hexdigest() for f in sorted(os.listdir(path))
    }


def check_seeds() -> None:
    for w in workloads.WORKLOADS.values():
        a, b, c = (os.path.join(SCRATCH, w.name, x) for x in "abc")
        workloads.make_inputs(w, a, 7)
        workloads.make_inputs(w, b, 7)
        workloads.make_inputs(w, c, 8)
        da, db, dc = _digests(a), _digests(b), _digests(c)
        if da != db:
            _fail(f"{w.name}: seed 7 gave different bytes on two calls")
        same = [f for f in da if da[f] == dc.get(f)]
        if same:
            _fail(f"{w.name}: seeds 7 and 8 gave identical {same}")
        o7 = list(itertools.islice(workloads.pass_orders(w, 7), 5))
        if o7 != list(itertools.islice(workloads.pass_orders(w, 7), 5)):
            _fail(f"{w.name}: seed 7 gave two different operation orders")
        if len(w.ops) > 1 and o7 == list(itertools.islice(workloads.pass_orders(w, 8), 5)):
            _fail(f"{w.name}: seeds 7 and 8 gave the same operation order")
        print(f"ok   seeds: {w.name}: inputs byte-identical per seed, all {len(da)} tables differ across seeds; order follows the seed")


def check_oracles() -> None:
    from etl_s3_to_redshift_spark.plans.star_schema import run_pipeline
    from etl_s3_to_redshift_spark.queries import REGISTRY, _load_extensions
    from etl_s3_to_redshift_spark.session import get_spark

    _load_extensions()
    run._deployment_env()
    spark = get_spark(cpus=run.nproc())
    spark.sparkContext.setLogLevel("ERROR")
    try:
        # star: DuckDB multiset compare of all five tables
        data, out = os.path.join(SCRATCH, "star"), os.path.join(SCRATCH, "star_out")
        workloads.make_inputs(workloads.STAR, data, 3)
        runner = workloads.StarRunner(data, out)
        run_pipeline(spark, runner.events, runner.songs, out)
        if runner.oracle.check(out):
            _fail(f"star oracle rejected the program's output: {runner.oracle.check(out)}")
        planted = runner.oracle.check(out, tamper="UPDATE got SET level = 'gold' WHERE rowid = 0")
        if not planted:
            _fail("star oracle accepted a songplay table with one wrong row")
        print(f"ok   oracles: star accepts the refresh, rejects one planted row ({planted[0]})")
        runner.close()

        # registry: the DuckDB oracle, the fast exact oracles, and fail_frac
        import inputs

        data = os.path.join(SCRATCH, "corpus")
        inputs.write_corpus(data, 3, 300, 200, 300)  # small: the SQL oracles are all-pairs
        tables = TableOracle(data, workloads.CORPUS_TABLES)
        for op in sorted(workloads.CORPUS.ops):
            spec = REGISTRY[op]
            got = spec.spark(spark, data).toPandas()
            if spec.oracle_sf is not None:
                expect = canon_rows(got)  # a pin to another lake: the run compares with its warm-up
            else:
                expect = tables.expect(op, spec.oracle)
                if op in FAST:
                    sql = canon_rows(tables.con.sql(spec.oracle).df())
                    if sql != expect:
                        _fail(f"{op}: the fast oracle disagrees with the registered SQL oracle")
            if compare(got, expect) is not None:
                _fail(f"{op}: oracle rejected the program's output: {compare(got, expect)}")
            wrong = got.copy()
            col = wrong.columns[-1]
            wrong.loc[wrong.index[0], col] = _perturb(wrong[col].iloc[0])
            if compare(wrong, expect) is None:
                _fail(f"{op}: oracle accepted one planted wrong row")
            print(f"ok   oracles: {op} accepts the program's {len(got)} rows, rejects one planted row")
        tables.close()

        bench = run.Bench(workloads.CORPUS, 3, 0, False, data, os.path.join(SCRATCH, "out"))
        op = "dedup_minhash_staged"
        got = REGISTRY[op].spark(spark, data).toPandas()
        wrong = got.copy()
        wrong.loc[wrong.index[0], "jaccard"] = 0.5
        bench._check(run.Pass(False, [run.OpRun(op, 1.0, 1.0, 0, 1, got), run.OpRun(op, 1.0, 1.0, 0, 1, wrong)], 0))
        if (bench.attempted, bench.failed) != (2, 1) or bench.ok_frac != 0.5:
            _fail("an operation that fails its oracle is not counted as failed")
        print("ok   oracles: an operation failing its oracle counts as failed (ok_frac 0.5 for 1 of 2)")
    finally:
        spark.stop()


def _perturb(v):
    if isinstance(v, bool):
        return not v
    if isinstance(v, (int, float)):
        return v + 1
    return f"{v}~"


def check_metrics() -> None:
    declared = run.load_declared()
    for w in workloads.WORKLOADS:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, "graftbench/run.py", "--workload", w, "--seed", "1", "--seconds", "1", "--trace", str(trace)]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=400)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                _fail(f"{w} trace={trace}: exit {p.returncode}\n{p.stderr[-3000:]}")
            result = json.loads(lines[-1])
            want = {m["name"]: m["unit"] for m in declared[kind]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != want:
                missing = sorted(set(want) - set(got))
                wrong = sorted(k for k in want if k in got and got[k] != want[k])
                extra = sorted(set(got) - set(want))
                _fail(f"{w} trace={trace}: missing {missing}, wrong unit {wrong}, undeclared {extra}")
            if not result["correct"]:
                _fail(f"{w} trace={trace}: outputs incorrect: {lines[-2][:2000]}")
            print(f"ok   metrics: {w} trace={trace}: all {len(want)} {kind} metrics, units as declared")
            for k, v in result["metrics"].items():
                print(f"       {k:42s} {v['value']:>14.4f} {v['unit']}")


def main() -> int:
    which = sys.argv[1:] or ["seeds", "oracles", "metrics"]
    checks = {"seeds": check_seeds, "oracles": check_oracles, "metrics": check_metrics}
    shutil.rmtree(SCRATCH, ignore_errors=True)
    try:
        for name in which:
            checks[name]()
    finally:
        shutil.rmtree(run.WORK, ignore_errors=True)
    print("all self-checks passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
