"""Record suite_floor's query list and expected outputs.

    python3 perfbench/record_suite.py q1_name,q2_name,...

Runs each named registered query three times, in shuffled orders, on
the benchmark's generated corpus, and writes perfbench/suite_floor.json
with the row count and row hash of every query whose three results
agree and which raised no error. Run it on the commit whose outputs the
benchmark should hold later commits to.
"""
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def main():
    names = sys.argv[1].split(",")
    cp = build.build()
    corpus = run.ensure_corpus(cp)
    work = os.path.join(build.BUILD_DIR, "record")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "recorded.json")
    run.run_jvm(cp, {"main": "perfbench.Main", "tmp": os.path.join(work, "tmp"),
                     "mode": "record", "work": work, "out": out, "corpus": corpus,
                     "queries": ",".join(names)},
                os.path.join(work, "jvm.log"), timeout=1800)
    with open(out) as f:
        rec = json.load(f)["queries"]
    for q in rec:
        print("%-40s %-6s rows=%-7s %.3fs %s" % (q["name"], q["stable"], q["rows"],
                                                stats.median(q["seconds"] or [-1.0]),
                                                q["error"] or ""))
    keep = [{"name": q["name"], "rows": q["rows"], "hash": q["hash"]}
            for q in rec if q["stable"]]
    with open(run.SUITE, "w") as f:
        json.dump({"queries": keep}, f, indent=1)
        f.write("\n")
    shutil.rmtree(work, ignore_errors=True)
    print("kept %d of %d" % (len(keep), len(rec)))


if __name__ == "__main__":
    main()
