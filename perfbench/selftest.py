#!/usr/bin/env python3
"""Self-tests of the benchmark itself. Run from the root of a checkout:

    python3 perfbench/selftest.py

1. Order parity: seed 0 reproduces graft.Bench's order (alphabetical
   with Bench's `orderPins`) for every workload list, and the harness's
   copy of the pins equals the one in Bench.scala.
2. Membership guard: a name missing from SparkEntry.queries, or listed
   in two workloads, stops the harness before it runs anything.
3. Golden check: a corrupted golden fingerprint makes both timed
   executions of that query fail in every round, so fail_ratio rises.
Exits non-zero on the first failed check.
"""
import json
import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def check(ok, msg):
    print(("PASS " if ok else "FAIL ") + msg)
    if not ok:
        sys.exit(1)


def pins(path):
    src = open(path).read()
    block = re.search(r"val orderPins\b[^=]*=\s*Map\((.*?)\)", src,
                      re.S | re.I)
    return dict(re.findall(r'"([\w~]+)"\s*->\s*"([\w~]+)"', block.group(1)))


def harness_stdout(cp, lists_file, tag):
    """Runs the harness's --print-order mode; returns (rc, stdout)."""
    log = os.path.join(run.WORK, "logs", tag + ".log")
    rc = run.run_harness(cp, ["--lists", lists_file, "--print-order", "1"],
                         tag, limit_s=120)
    with open(log) as f:
        return rc, f.read()


def main():
    cp, _ = run.ensure_build()
    sf_dir, warm_dir = run.data_dirs()
    os.makedirs(run.WORK, exist_ok=True)
    lists_file = os.path.join(run.WORK, "lists.tsv")
    lists = run.write_lists(lists_file)

    # 1. order parity
    bench_pins = pins(os.path.join(run.ROOT, "src", "main", "scala", "graft",
                                   "Bench.scala"))
    harness_pins = pins(os.path.join(run.HERE, "src", "main", "scala",
                                     "perfbench", "Harness.scala"))
    check(bench_pins == harness_pins and bench_pins,
          f"harness order pins equal Bench.scala's {bench_pins}")
    rc, out = harness_stdout(cp, lists_file, "selftest-order")
    orders = dict(l.split("\t", 1) for l in out.splitlines() if "\t" in l)
    for w, spec in lists.items():
        want = sorted(spec["queries"], key=lambda n: bench_pins.get(n, n))
        got = orders.get(w, "").split(",")
        check(rc == 0 and got == want, f"{w}: seed 0 order is Bench's order")
    # the full dedup family, where Bench's pins move two consumers
    # away from their alphabetical places
    family = ["containment_join", "incremental_dedup", "lsh_recall_audit",
              "neardup_pairs", "neardup_survivors", "neardup_triangles",
              "similarity_join_exact"]
    f = os.path.join(run.WORK, "family.tsv")
    with open(f, "w") as fh:
        fh.write("family\t" + ",".join(family) + "\n")
    rc, out = harness_stdout(cp, f, "selftest-order")
    got = dict(l.split("\t", 1) for l in out.splitlines() if "\t" in l)
    want = sorted(family, key=lambda n: bench_pins.get(n, n))
    check(rc == 0 and got.get("family", "").split(",") == want
          and want != sorted(family),
          "seed 0 puts similarity_join_exact and lsh_recall_audit right "
          "after neardup_survivors, where a plain sort would not")

    # 2. membership guard
    with tempfile.TemporaryDirectory(dir=run.WORK) as tmp:
        for bad, why in [
                ({"a": ["segment_stats", "no_such_query"]}, "not in SparkEntry"),
                ({"a": ["segment_stats"], "b": ["segment_stats"]},
                 "listed more than once")]:
            f = os.path.join(tmp, "lists.tsv")
            with open(f, "w") as fh:
                for w, qs in bad.items():
                    fh.write(w + "\t" + ",".join(qs) + "\n")
            rc, out = harness_stdout(cp, f, "selftest-guard")
            check(rc != 0 and why in out, f"guard refuses lists that are {why}")

        # 3. a corrupted golden fingerprint is counted, in both passes
        # of both rounds
        w0 = next(iter(lists))
        qs = lists[w0]["queries"][:2]
        f = os.path.join(tmp, "lists.tsv")
        with open(f, "w") as fh:
            fh.write("selftest\t" + ",".join(qs) + "\n")
        with open(os.path.join(run.HERE, "golden", w0 + ".tsv")) as gh:
            golden = dict(l.rstrip("\n").split("\t", 1) for l in gh if "\t" in l)
        g = os.path.join(tmp, "golden.tsv")
        with open(g, "w") as gh:
            for q in qs:
                fp = golden[q]
                if q == qs[0]:
                    rows, lo, hi = fp.split(":")
                    fp = f"{rows}:{int(lo) + 1}:{hi}"
                gh.write(f"{q}\t{fp}\n")
        out = os.path.join(tmp, "out.json")
        rc = run.run_harness(cp, [
            "--lists", f, "--workload", "selftest", "--seed", "0",
            "--trace", "0", "--sf-dir", sf_dir, "--warm-dir", warm_dir,
            "--out", out, "--rounds", "2", "--golden", g], "selftest-golden")
        res = json.load(open(out)) if rc == 0 else {}
        check(res.get("attempted") == 8 and res.get("failed") == 4
              and res["e2e"]["fail_ratio"] == 0.5
              and {x["name"] for x in res["failures"]} == {qs[0]},
              "a corrupted golden fingerprint fails both passes of both "
              "rounds of that "
              f"query (fail_ratio {res.get('e2e', {}).get('fail_ratio')})")


if __name__ == "__main__":
    main()
