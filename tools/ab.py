#!/usr/bin/env python3
"""Paired, interleaved wall-clock A/B of graft.Bench between two git
revisions.

Each revision is exported with `git archive` into its own directory
under --workdir (named by commit, reused across invocations) and
compiled once; the repository's own checkout is never touched. To
compare uncommitted work, pass `$(git stash create)` as NEW_REV. Then
every pair runs graft.Bench once on each side, alternating which side
goes first, so slow drift in host speed lands on both sides equally. Bench's own per-query numbers (min of
3 timed passes after a warm-up) are the samples.

Usage:
  python3 tools/ab.py BASE_REV NEW_REV --workdir DIR --sf-dir SF_DIR \\
      --queries q247_sketch_delete_propagation,q249_ivfpq_ann [--pairs 5] \\
      [--cpus N]

Environment (SBT_OPTS, COURSIER_MODE, SPARK_DRIVER_MEM, ...) passes
through to sbt unchanged. Raw Bench JSON lines go to DIR/runs/, the
summary table to stdout and DIR/ab.json.

Output per query: each side's median over the pairs, the base side's
own IQR (the noise scale), and how many pairs the new side won. The
last row does the same for the per-run sum over the selected queries
and states the pass bar: new median <= base median + base IQR.
"""
import argparse, json, os, statistics, subprocess, sys


def sh(cmd, cwd, env=None):
    r = subprocess.run(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        tail = r.stdout[-2000:] if r.stdout else ""
        sys.exit(f"{' '.join(cmd)} failed in {cwd} (exit {r.returncode})\n{tail}")
    return r.stdout


def export(repo, rev, work):
    """Extract REV's tree into WORK/<sha> (reused if present) and
    compile it once. Returns (sha, tree)."""
    sha = sh(["git", "rev-parse", "--verify", f"{rev}^{{commit}}"], repo).strip()
    dest = os.path.join(work, sha[:12])
    if not os.path.isdir(dest):
        os.makedirs(dest)
        archive = subprocess.Popen(["git", "archive", sha], cwd=repo,
                                   stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"git archive {rev} failed")
    sh(["sbt", "--batch", "compile"], dest)
    return sha, dest


def bench(tree, out_json, env):
    env = dict(env, BENCH_OUT=out_json)
    sh(["sbt", "--batch", "runMain graft.Bench"], tree, env)
    with open(out_json) as f:
        return json.load(f)["queries"]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q3


def row(name, base, new):
    """Median per side, base IQR, and the new side's paired wins."""
    q1, q3 = quartiles(base)
    mb, mn = statistics.median(base), statistics.median(new)
    return {"query": name, "base_median_s": mb, "new_median_s": mn,
            "ratio": mn / mb if mb > 0 else float("nan"),
            "base_iqr_s": q3 - q1,
            "new_wins": sum(n < b for b, n in zip(base, new)),
            "pairs": len(base)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--queries", required=True,
                    help="comma-separated registry names (SPARK_GRAFT_BENCH_ONLY)")
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--cpus", type=int, default=os.cpu_count())
    a = ap.parse_args()

    repo = sh(["git", "rev-parse", "--show-toplevel"], os.getcwd()).strip()
    work = os.path.abspath(a.workdir)
    os.makedirs(os.path.join(work, "runs"), exist_ok=True)
    sides = {"base": a.base, "new": a.new}
    shas, trees = {}, {}
    for side, rev in sides.items():
        shas[side], trees[side] = export(repo, rev, work)

    env = dict(os.environ, SPARK_GRAFT_BENCH_ONLY=a.queries,
               SPARK_GRAFT_SF_DIR=os.path.abspath(a.sf_dir),
               SPARK_GRAFT_CPUS=str(a.cpus))
    samples = {"base": [], "new": []}
    for i in range(a.pairs):
        order = ["base", "new"] if i % 2 == 0 else ["new", "base"]
        for side in order:
            out = os.path.join(work, "runs", f"{i:02d}_{side}.json")
            q = bench(trees[side], out, env)
            failed = [n for n, v in q.items() if v < 0]
            if failed:
                sys.exit(f"pair {i} {side}: queries failed: {failed}")
            samples[side].append(q)
            print(f"pair {i} {side}: sum {sum(q.values()):.2f} s", flush=True)

    names = sorted(samples["base"][0])
    rows = [row(n, [r[n] for r in samples["base"]], [r[n] for r in samples["new"]])
            for n in names]
    total = row("SUM", [sum(r.values()) for r in samples["base"]],
                [sum(r.values()) for r in samples["new"]])
    passed = total["new_median_s"] <= total["base_median_s"] + total["base_iqr_s"]

    print(f"\nbase {a.base} ({shas['base'][:10]})  new {a.new} ({shas['new'][:10]})  "
          f"pairs {a.pairs}  cpus {a.cpus}  sf {a.sf_dir}")
    print(f"{'query':34s} {'base_med':>9s} {'new_med':>9s} {'ratio':>6s} "
          f"{'base_IQR':>9s} {'wins':>5s}")
    for r in rows + [total]:
        print(f"{r['query']:34s} {r['base_median_s']:9.3f} {r['new_median_s']:9.3f} "
              f"{r['ratio']:6.3f} {r['base_iqr_s']:9.3f} "
              f"{r['new_wins']:>2d}/{r['pairs']}")
    slower = [r["query"] for r in rows
              if r["new_median_s"] - r["base_median_s"] > r["base_iqr_s"]]
    print(f"slower than base by more than base IQR: {', '.join(slower) or 'none'}")
    print(f"pass bar (new SUM median <= base SUM median + base SUM IQR): "
          f"{'PASS' if passed else 'FAIL'}")
    with open(os.path.join(work, "ab.json"), "w") as f:
        json.dump({"base": shas["base"], "new": shas["new"], "cpus": a.cpus,
                   "sf_dir": a.sf_dir, "rows": rows, "sum": total,
                   "slower": slower, "pass": passed, "samples": samples}, f, indent=1)


if __name__ == "__main__":
    main()
