"""Two-cluster-size scaling evidence (north rule, sandbox substitution).

Runs the identical extraction job over the same seeded corpus at N and 4N
local cores in *separate JVMs* (fresh SparkSession each — no warm-cache
bleed), reports docs/sec at both and efficiency = (T_N / T_4N) / 4, and
writes BENCH/BASELINE.md. Target: efficiency >= 0.8.

Measurement protocol (round-3 hardening — the r02 single-pair number had a
0.785-0.964 band under host load): MEDIAN OF 5 PAIRED TRIALS, each leg
best-of-2 inside its JVM after a warmup pass, each leg gated on
1-minute loadavg < threshold (sleep-wait) and its loadavg recorded next to
its wall time so noisy legs are visible in the table rather than silently
polluting the headline.

Usage: python tools/scaling_run.py [n_docs] [N] [4N] [pairs]
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LOAD_THRESHOLD = float(os.getenv("SCALE_LOAD_THRESHOLD", "2.0"))
LOAD_WAIT_CAP_S = int(os.getenv("SCALE_LOAD_WAIT_CAP_S", "240"))

_CHILD = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from extract_text_spark.session import get_spark
from extract_text_spark.pipeline import extract_spans_df
from bench import _steal_jiffies, _HZ

cpus = {cpus}
spark = get_spark(app_name=f"scale-{cpus}", master=f"local[{cpus}]",
                  shuffle_partitions=max(cpus * 2, 16))
from bench import ensure_span_corpus
path = ensure_span_corpus(spark, {n_docs})
docs = spark.read.parquet(path)
# Warmup: run the identical job once so every core's Python worker has
# forked + imported pandas/engine (steady-state throughput is what scales
# to a long-running cluster job; fork storms are one-time per executor).
extract_spans_df(docs, salt_partitions=cpus * 4).count()
legs = []
for _ in range(2):
    l0 = os.getloadavg()[0]
    st0 = _steal_jiffies()
    t0 = time.monotonic()
    n = extract_spans_df(docs, salt_partitions=cpus * 4).count()
    dt = time.monotonic() - t0
    stolen = (_steal_jiffies() - st0) / (_HZ * dt)
    legs.append([round(dt, 3), round(l0, 2),
                 round(os.getloadavg()[0], 2), round(stolen, 2)])
best = min(legs)
print("RESULT " + json.dumps({{"cpus": cpus, "seconds": best[0],
                               "load_end": best[2], "stolen": best[3],
                               "legs": legs, "docs": n}}))
spark.stop()
"""


def wait_for_quiet() -> float:
    """Sleep until 1-min loadavg drops under threshold (capped), then
    return the loadavg the leg actually started at."""
    t0 = time.time()
    while (os.getloadavg()[0] > LOAD_THRESHOLD
           and time.time() - t0 < LOAD_WAIT_CAP_S):
        time.sleep(15)
    return round(os.getloadavg()[0], 2)


def run_child(cpus: int, n_docs: int) -> dict:
    load = wait_for_quiet()
    code = _CHILD.format(repo=REPO, cpus=cpus, n_docs=n_docs)
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, timeout=3000)
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            res = json.loads(line[len("RESULT "):])
            res["loadavg"] = load
            return res
    raise RuntimeError(f"child failed (cpus={cpus}):\n{out.stdout[-2000:]}\n"
                       f"{out.stderr[-4000:]}")


def main():
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
    n_small = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    n_big = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    pairs = int(sys.argv[4]) if len(sys.argv) > 4 else 5
    ratio = n_big / n_small

    trials = []
    for i in range(pairs):
        small = run_child(n_small, n_docs)
        big = run_child(n_big, n_docs)
        eff = (small["seconds"] / big["seconds"]) / ratio
        trials.append({"small": small, "big": big, "eff": eff})
        print(f"pair {i + 1}/{pairs}: "
              f"T_{n_small}={small['seconds']:.2f}s "
              f"(load {small['loadavg']} stolen {small.get('stolen', 0)}) "
              f"T_{n_big}={big['seconds']:.2f}s "
              f"(load {big['loadavg']} stolen {big.get('stolen', 0)}) "
              f"eff={eff:.3f}", flush=True)

    # Outlier rejection (round-5 hardening). Co-tenancy on this host is
    # hypervisor-level, so a neighbour stealing our cycles never shows in
    # loadavg (the VM's runqueue doesn't grow — our threads just run
    # slowly); that is exactly why every r4 leg "started under the load
    # gate" yet swung 4x. The direct signal is /proc/stat CPU STEAL: a
    # leg is polluted iff the hypervisor took >= 1 full core on average
    # during it, or the VM's own runqueue grew past the leg's own
    # parallelism + the gate allowance (a c-core leg at full tilt
    # contributes ~c to loadavg by itself). Median over surviving pairs;
    # if fewer than half survive, fall back to all pairs.
    def polluted(res: dict) -> bool:
        return (res.get("stolen", 0) >= 1.0
                or res["load_end"] > res["cpus"] + LOAD_THRESHOLD + 1.0)

    kept = [t for t in trials
            if not polluted(t["small"]) and not polluted(t["big"])]
    dropped = [i + 1 for i, t in enumerate(trials) if t not in kept]
    fallback_all = len(kept) * 2 < len(trials)
    if fallback_all:
        # Keep `dropped` intact for the report: the rule DID condemn
        # these pairs — hiding that would misstate a maximally-polluted
        # window as clean. The median just has no quorum to act on it.
        kept = trials
    effs = sorted(t["eff"] for t in kept)
    med_eff = statistics.median(effs)
    # median trial (by efficiency) supplies the headline wall numbers
    med_trial = min(kept, key=lambda t: abs(t["eff"] - med_eff))
    small, big = med_trial["small"], med_trial["big"]
    tps_small = small["docs"] / small["seconds"]
    tps_big = big["docs"] / big["seconds"]

    trial_rows = "\n".join(
        f"| {i + 1} | {t['small']['seconds']:.2f} | {t['small']['loadavg']}"
        f"/{t['small']['load_end']} | {t['small'].get('stolen', 0):.2f} "
        f"| {t['big']['seconds']:.2f} | {t['big']['loadavg']}"
        f"/{t['big']['load_end']} | {t['big'].get('stolen', 0):.2f} "
        f"| {t['eff']:.3f} |"
        f"{' REJECTED (polluted)' if (i + 1) in dropped else ''}"
        for i, t in enumerate(trials)
    )
    if fallback_all:
        rejection_note = (
            f"**Pollution rule condemned pairs {dropped} — fewer than "
            f"half survived, so the median fell back to ALL pairs. Treat "
            f"this run's efficiency as an upper bound on pollution, not "
            f"a clean measurement; re-run on a quieter window.**")
    elif dropped:
        rejection_note = (f"Pairs {dropped} rejected by the pollution "
                          f"rule before the median.")
    else:
        rejection_note = "No pairs rejected by the pollution rule."

    os.makedirs(f"{REPO}/BENCH", exist_ok=True)
    md = f"""# BENCH/BASELINE — extraction throughput + scaling evidence

Identical job (seeded interleaved span corpus, {n_docs} input docs ->
{big['docs']} output docs incl. archive fan-out) run at two parallelism
levels in separate JVMs ({n_small} and {n_big} local cores — the sandbox
substitution for N and 4N executors; see BASELINE.md).

**Protocol:** median of {pairs} paired trials; each leg is best-of-2
inside a fresh JVM after one warmup pass, starts only when 1-min loadavg
< {LOAD_THRESHOLD} (sleep-wait, capped), and records loadavg at leg
start AND end plus **hypervisor CPU-steal during the leg** (the
`stolen` column: average whole cores taken, from /proc/stat — the
signal that attributes co-tenant pollution, which loadavg cannot see
because a stolen cycle never enters this VM's runqueue). A pair is
REJECTED before the median iff either leg had stolen >= 1.0 cores or
its end loadavg exceeded its own core count + {LOAD_THRESHOLD} + 1.0
(a c-core leg at full tilt contributes ~c to loadavg by itself);
falls back to all pairs if fewer than half survive. {rejection_note}

| pair | T_{n_small} (s) | load s/e | stolen | T_{n_big} (s) | load s/e | stolen | efficiency |
|---|---|---|---|---|---|---|---|
{trial_rows}

Headline (median pair):

| cores | wall (s) | docs/sec |
|---|---|---|
| {n_small} (N) | {small['seconds']:.2f} | {tps_small:.1f} |
| {n_big} (4N) | {big['seconds']:.2f} | {tps_big:.1f} |

**Scaling efficiency (median of {len(kept)}/{pairs} \
{'pairs - FALLBACK, see rejection note' if fallback_all else 'surviving pairs'})**
= (T_N / T_4N) / {ratio:.0f}
= **{med_eff:.3f}** (target >= 0.8; surviving band
{effs[0]:.3f}-{effs[-1]:.3f})

Reading the band: residual steal below the rejection cut biases a pair
in whichever DIRECTION the steal lands. Steal in the N leg inflates
T_N, so efficiency reads high (0.5 stolen cores is 25% of a 2-core
leg) — values over 1.0 are T_N pollution, not superlinear scaling.
Steal in the 4N leg inflates T_4N, so efficiency reads LOW — a
sub-target pair whose 4N `stolen` column is visibly nonzero is T_4N
pollution, not an engine regression. Each pair is attributable from
its own stolen columns; the number to hold against the >= 0.8 target
is the MEDIAN of surviving pairs, and the single best point estimate
is the pair with the lowest combined steal.

Reference baseline context: the reference publishes no docs/sec figures
(BASELINE.md); its envelope is a 4-thread pool with <5 s per simple file.
This engine's single-node throughput above corresponds to
{tps_big:.0f} docs/sec at {n_big} cores on the mixed-format corpus
(with 1-in-~1200 docs being 400-page "whale" PDFs, each extracted as
one task while the salted partitions keep the other cores busy).

## Bench protocol history (cross-round comparability)

Per-round `BENCH_r{{N}}.json` numbers are only comparable when the
protocol matched. The breaks, in order:

- **r3 -> r4:** bench.py started calling `spark.catalog.clearCache()`
  after each query's legs and load-gating every leg. More honest — but
  r3's later dedup queries rode earlier queries' persisted shingle
  tables, so r3-vs-r4 drifts on `dedup_simhash` (0.26->0.78) and
  `sim_cosine_topk` (1.32->1.98) are protocol, not regressions.
- **r4 -> r5:** the r4 headline (`extract_corpus` best-of-3 at
  local[32]) swung 9.3-37.6 s across legs that all STARTED under the
  load gate. Root cause found in r5: co-tenancy here is HYPERVISOR
  steal, which loadavg can never see (a stolen cycle doesn't enter this
  VM's runqueue — threads just run slower), so the gate watched the
  wrong counter; and 32 threads sits far past this host's ~8-thread
  knee where wall-clock measures contention (host note below). From r5,
  bench.py pins the headline to its own JVM at local[8]
  (`SPARK_GRAFT_HEADLINE_CPUS`), median of 5 legs, each leg recording
  [sec, load_start, load_end, stolen_cores], with the same
  steal-based pollution rule as the scaling pairs above.
  `docs_per_sec` is therefore stated at 8 cores from r5 on — compare
  r5+ headlines to the 8-core scaling row, not to r3/r4's 32-core
  best-of-3. Registry queries keep best-of-3 at `$SPARK_GRAFT_CPUS`
  (unchanged from r4).
- **r5 -> r6:** ONE reconciled headline. r5 carried two docs/sec
  figures at the same 8 cores — 4,097 (bench.py, 21.4k-doc corpus,
  ~5 s legs) vs 12,720 (scaling run, 400k docs, ~34 s legs). Fitting
  t = a + n/rate to both points gives a ≈ 3.7 s fixed per-job cost
  (scheduling + Python-worker wake) and rate ≈ 14.5k docs/s — the gap
  was fixed overhead dominating a 5-second leg, not engine variance.
  From r6 the bench headline runs the SAME 400k-doc seeded corpus the
  scaling run measures (`SPARK_GRAFT_HEADLINE_DOCS`, default 400000;
  legs ~30-40 s), so bench docs/sec and the 8-core scaling row are the
  same experiment and must agree within noise (r6 validation run:
  bench median-of-clean 10,111 docs/s, min-leg 11,385, against the
  8-core scaling rows below). Also from r6, bench stdout is ONE
  compact JSON line (headline fields + per-query seconds) and the
  per-leg evidence arrays ([sec, load_start, load_end, stolen_cores])
  move to `bench_legs.json` — r5's driver captured only the tail of
  stdout and 42 leg arrays truncated the headline fields away
  (BENCH_r05.json has no `docs_per_sec`).

## Host-topology note (why N=2 -> 4N=8)

This sandbox advertises 32 vCPUs, but a pure-JVM CPU probe (`sha2` over
`spark.range(50M)`) speeds up only 2.4x from 8 to 32 threads, and
/proc/loadavg shows steady background load with the VM idle — the host is
oversubscribed, so wall-clock above ~8-12 threads measures contention, not
the engine. The same extraction job at local[8] vs local[32] is flat,
while 2 -> 8 cores scales per the table above. On a real 1000-executor
cluster the relevant property is the one evidenced here: the job has no
serial section beyond Spark's scheduler — scan, fan-out, salt shuffle
and kernel are all data-parallel, shuffles are keyed on uniform hashes,
and the largest single task is one document.

## Optimization log (what made it scale)

| change | effect |
|---|---|
| single kernel pass (split small/big *before* mapInPandas) | kernel no longer re-ran per output branch (2x Python saved) |
| single-scan archive fan-out (nested-transform expression + one explode, replacing 11-branch union) | fan-out 12.3s -> 3.5s at 8 cores; 5-10 parquet scans -> 1 |
| member path bound once per member (Catalyst has no CSE inside lambdas) | sanitize regexp chain evaluated 1x instead of ~11x per member |
| MinHash: affine 2-hash family + id-only band shuffle | 16x fewer md5 digests; shingle arrays never ride the band join |
| Arrow 2048 rows + 32 MB maxBytesPerBatch | cold kernel stage 19s -> 8s |
| steady-state measurement (warm Python workers) | excludes one-time fork+import storms from docs/sec |
| median-of-{pairs} paired trials with loadavg gating/recording | headline efficiency reproducible on an oversubscribed host |
"""
    with open(f"{REPO}/BENCH/BASELINE.md", "w") as fh:
        fh.write(md)
    print(json.dumps({"efficiency_median": round(med_eff, 3),
                      "efficiency_band": [round(effs[0], 3),
                                          round(effs[-1], 3)],
                      "docs_per_sec_N": round(tps_small, 1),
                      "docs_per_sec_4N": round(tps_big, 1)}))


if __name__ == "__main__":
    main()
