#!/usr/bin/env python3
"""Interleaved A/B bench: adjudicate round-over-round per-query movers as
"code" or "box" (VERDICT r10 "what's wrong" #2).

Cross-round bench artifacts are single runs from different hours on a
shared box; this harness alternates the two HEADs' compiled classes in ONE
session — A,B,A,B,... back-to-back JVMs on an otherwise-quiet box — so any
environmental drift hits both sides equally and a consistent per-query
ratio can only be code.

Usage:
  tools/ab_bench.py --classes-a <dir> --classes-b <dir> --sf <sfDir> \
      --queries q29_minhash_lsh,q138_incremental_dedup \
      [--alternations 3] [--cpus N] [--out BENCH_ab.json] \
      [--label-a r9] [--label-b r10]

Each JVM runs graft.Bench with SPARK_GRAFT_ONLY=<queries>, RUNS=1 (the
alternation IS the repetition; per-side minima are taken across
alternations). Alternations run in BOTH orders by default — even
alternations A,B; odd alternations B,A — because the r13 adjudication
found a pure ordering bias: the side running second absorbs in-pair box
drift, and two "code" verdicts flipped to "box" when sides were swapped
(VERDICT r13 #5). Verdict per query:
  ratio = min_B / min_A
  "code" when |log(ratio)| > log(1.15), the same sign holds in the
  majority of paired alternations, AND BOTH run orders independently
  agree (per-order majorities with the same sign) — an effect that
  vanishes when the order flips is scheduling, not code.
  "box" otherwise.
"""
import argparse, json, math, os, subprocess, sys, time

SPARK_JARS = "/opt/spark/jars/*"
ADD_OPENS_PKGS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic",
]
ADD_OPENS_SUN = ["sun.nio.ch", "sun.nio.cs", "sun.security.action",
                 "sun.util.calendar"]


def default_heap():
    """Half of physical RAM clamped to 2-8 GB (tools/run_main.sh's formula),
    so the default fits the machine it runs on. SPARK_DRIVER_MEM overrides."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        kb = 0
    return f"{min(max(kb // 2097152, 2), 8)}g"


def run_side(classes, sf, queries, cpus, out_json):
    cmd = ["java"]
    for p in ADD_OPENS_PKGS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    for p in ADD_OPENS_SUN:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Xmx{os.environ.get('SPARK_DRIVER_MEM') or default_heap()}",
            "-cp", f"{classes}:{SPARK_JARS}", "graft.Bench"]
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_SF_DIR": sf,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_ONLY": queries,
        "SPARK_GRAFT_RUNS": "1",
        "SPARK_GRAFT_OUT": out_json,
    })
    t0 = time.time()
    r = subprocess.run(cmd, env=env, stdout=subprocess.DEVNULL,
                       stderr=subprocess.DEVNULL)
    if r.returncode != 0:
        sys.exit(f"bench JVM failed (exit {r.returncode}): {out_json}")
    with open(out_json) as f:
        d = json.load(f)
    if d.get("failed"):
        sys.exit(f"queries failed on {out_json}: {d['failed']}")
    return d["queries"], time.time() - t0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--classes-a", required=True)
    ap.add_argument("--classes-b", required=True)
    ap.add_argument("--sf", required=True)
    ap.add_argument("--queries", required=True)
    ap.add_argument("--alternations", type=int, default=4,
                    help="even count balances the two run orders")
    ap.add_argument("--cpus", type=int, default=os.cpu_count())
    ap.add_argument("--out", default="/tmp/bench_ab.json")
    ap.add_argument("--label-a", default="A")
    ap.add_argument("--label-b", default="B")
    ap.add_argument("--threshold", type=float, default=1.15,
                    help="min ratio treated as a code-level move")
    args = ap.parse_args()

    # the dual-order rule needs BOTH orders populated, each with enough
    # pairs that one noisy run cannot veto a real move: round odd counts
    # up to even, floor at 4 (2 pairs per order). With --alternations=1
    # the BA subset would be empty and "code" structurally unreachable;
    # with odd counts the minority order hangs on a single pair (ADVICE
    # r14). Loud, not silent.
    if args.alternations < 4 or args.alternations % 2 == 1:
        fixed = max(4, args.alternations + (args.alternations % 2))
        print(f"[ab] --alternations={args.alternations} cannot support the "
              f"dual-order rule (each order needs >=2 pairs); using {fixed}",
              flush=True)
        args.alternations = fixed

    qnames = [q for q in args.queries.split(",") if q]
    runs = {"A": [], "B": []}  # list of per-alternation {query: sec}
    orders = []                # "AB" or "BA" per alternation
    for alt in range(args.alternations):
        # dual-order: flip which side runs first on odd alternations so
        # in-pair box drift cannot systematically charge one side
        pair = (("A", args.classes_a), ("B", args.classes_b))
        order = "AB" if alt % 2 == 0 else "BA"
        orders.append(order)
        for side, classes in (pair if order == "AB" else pair[::-1]):
            out = f"/tmp/ab_{side}_{alt}.json"
            qtimes, wall = run_side(classes, args.sf, args.queries,
                                    args.cpus, out)
            runs[side].append(qtimes)
            print(f"[ab] alt {alt} ({order}) side {side}: "
                  + " ".join(f"{q}={qtimes.get(q, float('nan')):.2f}s"
                             for q in qnames)
                  + f" (jvm {wall:.0f}s)", flush=True)

    thr = math.log(args.threshold)
    per_query = {}
    for q in qnames:
        a = [r[q] for r in runs["A"] if q in r]
        b = [r[q] for r in runs["B"] if q in r]
        min_a, min_b = min(a), min(b)
        ratio = min_b / min_a
        # paired per-alternation ratios: same box window for both sides
        paired = [rb[q] / ra[q] for ra, rb in zip(runs["A"], runs["B"])]
        big = abs(math.log(ratio)) > thr
        sign = 1 if ratio > 1 else -1

        def subset_agrees(ps):
            """majority of this order's pairs move past threshold with
            the overall sign; an empty subset cannot confirm anything"""
            if not ps:
                return False
            n = sum(1 for p in ps
                    if abs(math.log(p)) > thr and (1 if p > 1 else -1) == sign)
            return n >= max(1, (len(ps) + 1) // 2)

        by_order = {o: [p for p, oo in zip(paired, orders) if oo == o]
                    for o in ("AB", "BA")}
        order_ok = {o: subset_agrees(ps) for o, ps in by_order.items()}
        consistent = sum(1 for p in paired
                         if abs(math.log(p)) > thr and
                         (1 if p > 1 else -1) == sign)
        # "code" needs the overall move, a majority of pairs, AND both
        # run orders agreeing independently (the r13 ordering-bias rule)
        verdict = ("code" if big
                   and consistent >= max(2, (args.alternations + 1) // 2)
                   and all(order_ok.values()) else "box")
        per_query[q] = {
            "a_runs": [round(x, 3) for x in a],
            "b_runs": [round(x, 3) for x in b],
            "min_a": round(min_a, 3), "min_b": round(min_b, 3),
            "ratio_b_over_a": round(ratio, 4),
            "paired_ratios": [round(p, 4) for p in paired],
            "pair_orders": orders,
            "order_agrees": order_ok,
            "verdict": verdict,
        }
    artifact = {
        "metric": "ab_adjudication",
        "label_a": args.label_a, "label_b": args.label_b,
        "sf": args.sf, "cpus": args.cpus,
        "alternations": args.alternations,
        "threshold_ratio": args.threshold,
        "queries": per_query,
    }
    with open(args.out, "w") as f:
        json.dump(artifact, f, indent=1)
    print(json.dumps(artifact))


if __name__ == "__main__":
    main()
