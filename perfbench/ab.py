#!/usr/bin/env python3
"""Paired comparison of two git revisions on one workload.

    python3 perfbench/ab.py PARENT_REV CHANGE_REV --workload relational [--pairs 10]

Exports each revision into perfbench/.ab/<rev>/ and puts this working
tree's benchmark into both exports, so that both sides run identical
benchmark code and settings. After one discarded run per side (it builds),
it runs --pairs pairs, alternating which side goes first, with seed
--seed + i for pair i on both sides. Then, for every end-to-end metric of
BENCHMARK.json, it prints each side's median and quartiles, the change's
wins, losses and ties, and a verdict by stats.verdict: gain, no
regression, unresolved or regression. A gain does not count when the
change fails more operations than the parent.
"""
import argparse
import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import stats  # noqa: E402

BUILD_OUTPUTS = ("target", ".data", ".work", ".results", ".ab", "__pycache__")


def export(rev):
    sha = subprocess.check_output(["git", "rev-parse", "--verify", rev + "^{commit}"],
                                  cwd=ROOT, text=True).strip()
    dest = HERE / ".ab" / sha[:12]
    if not dest.exists():
        dest.mkdir(parents=True)
        archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
        subprocess.check_call(["tar", "-x", "-C", str(dest)], stdin=archive.stdout)
        archive.stdout.close()
        if archive.wait() != 0:
            sys.exit(f"git archive {rev} failed")
    shutil.rmtree(dest / "perfbench", ignore_errors=True)
    shutil.copytree(HERE, dest / "perfbench",
                    ignore=shutil.ignore_patterns(*BUILD_OUTPUTS))
    return sha[:12], dest


def run(dest, workload, seed, seconds):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=dest, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if not lines:
        sys.stderr.write(p.stderr[-3000:])
        sys.exit(f"benchmark produced no result in {dest} (exit {p.returncode})")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1000)
    a = ap.parse_args()
    if a.pairs < 10:
        sys.exit("at least 10 pairs are needed for a verdict")
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = bench["run_seconds"]
    sides = {"parent": export(a.parent), "change": export(a.change)}
    for name, (sha, dest) in sides.items():
        print(f"# {name} {sha}: warm-up run (builds)", flush=True)
        run(dest, a.workload, a.seed - 1, seconds)
    results = {"parent": [], "change": []}
    for i in range(a.pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for name in order:
            r = run(sides[name][1], a.workload, a.seed + i, seconds)
            results[name].append(r)
            print(f"pair {i} {name}: correct={r['correct']} failed={r['failed']} " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
    failed = {k: sum(r["failed"] for r in v) for k, v in results.items()}
    print(f"\n# workload={a.workload} pairs={a.pairs} seconds={seconds} "
          f"parent={sides['parent'][0]} change={sides['change'][0]} "
          f"failed parent={failed['parent']} change={failed['change']}")

    def fmt(q):
        return f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"

    print(f"{'metric':<14} {'parent median [q1, q3]':<30} {'change median [q1, q3]':<30} "
          f"{'w/l/t':>8}  verdict")
    for m in bench["end_to_end"]:
        k = m["name"]
        p = [r["metrics"][k]["value"] for r in results["parent"]]
        c = [r["metrics"][k]["value"] for r in results["change"]]
        v, d = stats.verdict(p, c, m["better"], m["bound"])
        if v == "gain" and failed["change"] > failed["parent"]:
            v = "no gain: the change fails more operations"
        wlt = f"{d['wins']}/{d['losses']}/{d['ties']}"
        print(f"{k:<14} {fmt(stats.quartiles(p)):<30} {fmt(stats.quartiles(c)):<30} "
              f"{wlt:>8}  {v}")


if __name__ == "__main__":
    main()
