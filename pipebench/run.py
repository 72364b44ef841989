"""Pipeline benchmark entry point.

One run of one workload:

    python3 pipebench/run.py --workload NAME --seed N --seconds S --trace 0|1

builds the program from the checkout if needed (`build.py`), runs the
harness (`graft.pipebench.Main`) in one JVM on local[<cores>], and prints
its result object as the last stdout line. Workloads: refresh_cycle,
corpus_fold, event_stream (see BENCHMARK.json).

A summary over several seeds of every workload:

    python3 pipebench/run.py --report [--runs 5] [--workloads a,b]

prints each end-to-end metric by name and unit with its median,
quartiles and sample count, the output-check verdicts, and a traced run
per workload with its overhead against the untraced wall time.

    python3 pipebench/run.py --save-digests

adds the output digests that runs in this checkout recorded for seeds
`digests.tsv` lacks to that committed reference. A change that alters
what a workload commits on purpose deletes the workload's lines there
first, then reruns the seeds and saves them.
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

import build

HEAP = "3g"
RUN_TIMEOUT_S = 170
WORKLOADS = ["refresh_cycle", "corpus_fold", "event_stream"]
# output digests per <workload>-<scale>-<seed>: the committed reference,
# and the log of runs in this checkout for seeds the reference lacks
REFERENCE = os.path.join(build.HERE, "digests.tsv")
DIGEST_LOG = os.path.join(build.BUILD, "digests")


def run_once(workload, seed, seconds, trace, scale="bench", tamper=False,
             quiet=False):
    """Run the harness once; return its parsed result object."""
    classes = build.build()
    work = os.path.join(build.BUILD, "work", f"{workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(tmp)
    log_path = os.path.join(build.BUILD, f"{workload}.log")
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.driver.host=localhost"]
           + build.ADD_OPENS
           + ["-cp", build.classpath(classes), "graft.pipebench.Main",
              "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", "1" if trace else "0",
              "--work", work, "--digests", DIGEST_LOG,
              "--reference", REFERENCE, "--scale", scale]
           + (["--tamper"] if tamper else []))
    try:
        with open(log_path, "w") as log:
            p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                                 stderr=log, text=True,
                                 start_new_session=True)
            try:
                out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                raise RuntimeError(f"{workload} timed out; log {log_path}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [line for line in out.splitlines() if line.strip()]
    with open(log_path) as log:
        for line in log:
            if line.startswith("[pipebench]") and (
                    not quiet or "check failed" in line):
                print(line.rstrip(), file=sys.stderr)
    for line in lines[:-1]:
        if not quiet:
            print(line, file=sys.stderr)
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} exited {p.returncode}; log {log_path}")
    result = json.loads(lines[-1])
    stamp = next((json.loads(line.split(" ", 2)[2]) for line in lines
                  if line.startswith("[pipebench] stamp ")), {})
    return result, stamp


def save_digests():
    """Merge the digest log of this checkout into the reference."""
    ref = {}
    if os.path.exists(REFERENCE):
        for line in open(REFERENCE):
            if line.strip() and not line.startswith("#"):
                k, d = line.rstrip("\n").split("\t", 1)
                ref[k] = d
    added = 0
    for k in sorted(os.listdir(DIGEST_LOG)) if os.path.isdir(DIGEST_LOG) \
            else []:
        if k not in ref:
            ref[k] = open(os.path.join(DIGEST_LOG, k)).read()
            added += 1
    with open(REFERENCE, "w") as fh:
        fh.write("# <workload>-<scale>-<seed>\t<output digest>; "
                 "see run.py --save-digests\n")
        for k in sorted(ref):
            fh.write(f"{k}\t{ref[k]}\n")
    print(f"[pipebench] {added} digests added, {len(ref)} in "
          f"{os.path.relpath(REFERENCE, build.ROOT)}", file=sys.stderr)


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def report(args):
    spec = json.load(open(os.path.join(build.ROOT, "BENCHMARK.json")))
    names = args.workloads.split(",") if args.workloads else WORKLOADS
    seconds = spec["run_seconds"]
    for w in names:
        runs = []
        for i in range(args.runs):
            runs.append(run_once(w, 1000 + i, seconds, False, quiet=True))
        print(f"\n== {w}: {len(runs)} runs x {seconds} s, seeds "
              f"1000..{999 + args.runs}")
        verdicts = [r["correct"] for r, _ in runs]
        att = sum(r["attempted"] for r, _ in runs)
        fail = sum(r["failed"] for r, _ in runs)
        print(f"   output checks: {verdicts.count(True)}/{len(runs)} runs "
              f"correct, failed_ops_frac {fail / att:.4f} ({fail}/{att})")
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r, _ in runs]
            q1, q2, q3 = quartiles(vals)
            spread = (q3 - q1) / q2 if q2 else float("nan")
            print(f"   {m['name']:<15} {m['unit']:<6} median {q2:10.4f}  "
                  f"q1 {q1:10.4f}  q3 {q3:10.4f}  n {len(vals)}  "
                  f"spread {spread:.3f} (bound {m['bound']})")
        stamps = [s for _, s in runs]
        print("   jobs per pass:", [s.get("jobs_per_pass") for s in stamps])
        print("   steal %:", [s.get("steal_pct") for s in stamps])
        traced, _ = run_once(w, 1000, seconds, True, quiet=True)
        tm = traced["metrics"]
        untraced = statistics.median(
            r["metrics"]["wall_s"]["value"] for r, _ in runs)
        print(f"   traced run: wall {tm['trace.wall_s']['value']:.3f} s vs "
              f"untraced median {untraced:.3f} s (overhead "
              f"{tm['trace.wall_s']['value'] / untraced - 1:+.3f}); "
              f"output checks {'pass' if traced['correct'] else 'FAIL'}")
        for k in sorted(tm):
            v = tm[k]["value"]
            if v:
                print(f"     {k:<36} {v:12.4f} {tm[k]['unit']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", default="bench",
                    choices=["bench", "tiny", "large"])
    ap.add_argument("--report", action="store_true")
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--workloads")
    ap.add_argument("--save-digests", action="store_true")
    args = ap.parse_args()
    try:
        if args.save_digests:
            save_digests()
            return
        if args.report:
            report(args)
            return
        if not args.workload:
            ap.error("--workload is required")
        result, _ = run_once(args.workload, args.seed, args.seconds,
                             bool(args.trace), scale=args.scale)
    except (build.BuildFailure, RuntimeError, OSError, ValueError) as e:
        print(f"[pipebench] {e}", file=sys.stderr)
        sys.exit(1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
