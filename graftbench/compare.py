"""Compare two sets of untraced graftbench runs: parent against change.

    python3 graftbench/compare.py --parent RUN... --change RUN...

Each RUN is a run record directory (holding result.json) or a directory
of them. Runs pair up in the order they were made, per workload; make
them alternating parent and change, at least ten pairs, with the same
benchmark code and settings on both sides.

Per workload and end-to-end metric it prints both sides' median and
quartiles, the share of pairs the change won (ties count for neither),
and a verdict, with the bounds fixed in BENCHMARK.json:
  improved    the change wins at least 9/10 of at least ten pairs, and the
              medians differ by more than the parent's quartile spread
  worse       the change's median is worse than the parent's by more
              than the metric's bound
  unchanged   neither, and the parent's spread is within the bound
  unresolved  the parent's spread is wider than the bound, unless every
              change run reads better than every parent run ("not worse")
"""
import argparse
import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))


def load_runs(paths):
    """Workload -> list of end-to-end dicts, in the order the runs were made."""
    found = []
    for p in paths:
        dirs = [p] if os.path.exists(os.path.join(p, "result.json")) else [
            os.path.join(p, d) for d in os.listdir(p)]
        for d in dirs:
            f = os.path.join(d, "result.json")
            if os.path.exists(f):
                with open(f) as fh:
                    r = json.load(fh)
                if r["trace"] == 0:
                    found.append((os.path.getmtime(f), r))
    out = {}
    for _, r in sorted(found, key=lambda t: t[0]):
        out.setdefault(r["workload"], []).append(r["end_to_end"])
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def verdict(par, chg, better, bound):
    """Verdict for one metric; `par` and `chg` are lists of values in pair order."""
    sign = -1.0 if better == "lower" else 1.0  # positive = better
    p1, pm, p3 = quartiles(par)
    _, cm, _ = quartiles(chg)
    pairs = list(zip(par, chg))
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    share = wins / len(pairs) if pairs else 0.0
    worse_by = -sign * (cm - pm) / pm
    spread = (p3 - p1) / pm
    if len(pairs) >= 10 and share >= 0.9 and sign * (cm - pm) > (p3 - p1):
        v = "improved"
    elif spread > bound:
        all_better = all(sign * (c - p) > 0 for c in chg for p in par)
        v = "not worse" if all_better else "unresolved"
    elif worse_by > bound:
        v = "worse"
    else:
        v = "unchanged"
    return (p1, pm, p3), quartiles(chg), share, worse_by, v


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", nargs="+", required=True)
    ap.add_argument("--change", nargs="+", required=True)
    a = ap.parse_args()
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as fh:
        spec = {m["name"]: m for m in json.load(fh)["end_to_end"]}
    par, chg = load_runs(a.parent), load_runs(a.change)
    for w in sorted(set(par) & set(chg)):
        n = min(len(par[w]), len(chg[w]))
        print(f"== {w}: {len(par[w])} parent runs, {len(chg[w])} change runs, {n} pairs")
        print(f"{'metric':18} {'bound':>6} {'parent q1/med/q3':>28} "
              f"{'change q1/med/q3':>28} {'won':>5} {'worse_by':>9}  verdict")
        for name, m in spec.items():
            pv = [r[name] for r in par[w]][:n]
            cv = [r[name] for r in chg[w]][:n]
            pq, cq, share, worse_by, v = verdict(pv, cv, m["better"], m["bound"])
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)  # noqa: E731
            print(f"{name:18} {m['bound']:>6.2f} {fmt(pq):>28} {fmt(cq):>28} "
                  f"{share:>5.0%} {worse_by:>+9.1%}  {v}")
    for w in sorted(set(par) ^ set(chg)):
        print(f"== {w}: runs on one side only; not compared")


if __name__ == "__main__":
    main()
