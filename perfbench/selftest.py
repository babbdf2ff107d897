#!/usr/bin/env python3
"""Self-test of the benchmark's checks, on tiny inputs.

    python3 perfbench/selftest.py

Runs every workload once in one JVM on tiny inputs. Every check must pass
on the program's outputs, and each damaged output below must make a check
fail: a dropped store row and a flipped level1 flag (levels_cron,
the second on the DuckDB side), an unflagged planted duplicate and a
perturbed vector (corpus_vector). Exit code 0 when all of that holds.
"""
import os
import shutil
import sys

import run
import levels_check


def main():
    problems = []
    work = os.path.join(run.WORK, f"selftest-{os.getpid()}")
    try:
        classpath = run.build()
        os.makedirs(work)
        out = run.run_jvm(classpath, work, [
            "--workload", "all", "--seed", "7", "--seconds", "0", "--trace", "0",
            "--selftest"], run.RUN_BUDGET_S - 15)
        for rec in out["records"]:
            name = rec["workload"]
            if "error" in rec:
                problems.append(f"{name}: {rec['error']}")
                continue
            checks = rec["checks"]
            mutations = rec["mutations"]
            if name == "levels_cron":
                checks += run.levels_checks(rec)
                info = rec["info"]
                flipped = os.path.join(work, "level1_flipped")
                os.makedirs(flipped)
                levels_check.flip_one_flag(info["duck.level1_program"], flipped)
                con = levels_check.duckdb.connect()
                res = levels_check.check_level1(con, info["duck.raw"],
                                                int(info["duck.raw_until_us"]), flipped)
                con.close()
                mutations.append({"name": "a flipped level1 flag",
                                  "caught": not all(ok for _, ok, _ in res)})
            for c in checks:
                print(f"{'ok  ' if c['ok'] else 'FAIL'} {name}: {c['name']} ({c['detail']})")
                if not c["ok"]:
                    problems.append(f"{name}: check failed: {c['name']}")
            for m in mutations:
                print(f"{'ok  ' if m['caught'] else 'FAIL'} {name}: {m['name']} is caught")
                if not m["caught"]:
                    problems.append(f"{name}: {m['name']} went unnoticed")
            if not mutations:
                problems.append(f"{name}: no mutation was tried")
    except run.BenchError as e:
        problems.append(str(e))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print(f"selftest: {p}", file=sys.stderr)
    print("selftest: " + ("FAILED" if problems else "passed"))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
