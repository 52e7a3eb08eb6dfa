#!/usr/bin/env python
"""Long-horizon healthy-window bench watcher (VERDICT r03 next-round task 1).

The sandbox host's fresh-page supply rate swings ~50-250x between time
windows, and degraded regimes last >3h — longer than bench.py's bounded
30-min probe gate can wait. This watcher runs for hours in the background:

  1. polls the fresh-page probe every POLL_S seconds, appending every sample
     to BENCH/probe_log_r4.jsonl (the committed probe log is itself evidence
     if the host never offers a window);
  2. the moment CONSEC consecutive probes are >= MIN_MB_S, fires a full
     bench.py capture (with a short internal re-check gate) and records it to
     BENCH/bench_r4_healthy.json if it beats the best capture so far
     (gate met, then lowest headline value);
  3. after the first successful headline capture, if the window is still
     healthy, runs the interleaved pinned 2->8 scaling pair (with the new
     memory-bandwidth ceiling probe) to BENCH/scaling_interleaved_r4.json.

Stops at DEADLINE_H hours or after a capture with probe_gate.met=true AND
headline <= TARGET_S plus a completed scaling run — whichever first.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
BENCH_DIR = os.path.join(REPO, "BENCH")
LOG = os.path.join(BENCH_DIR, os.environ.get("WATCH_LOG", "probe_log_r4.jsonl"))
OUT = os.path.join(BENCH_DIR, os.environ.get("WATCH_OUT", "bench_r4_healthy.json"))
SCALING_OUT = os.path.join(
    BENCH_DIR, os.environ.get("WATCH_SCALING_OUT", "scaling_interleaved_r4.json")
)
# WATCH_SCALING_OUT: relaunches write to a sibling file so a degraded
# re-run can never clobber an already-committed better scaling artifact

MIN_MB_S = float(os.environ.get("WATCH_MIN_MB_S", "500"))
CONSEC = int(os.environ.get("WATCH_CONSEC", "2"))
POLL_S = float(os.environ.get("WATCH_POLL_S", "25"))
DEADLINE_H = float(os.environ.get("WATCH_DEADLINE_H", "4.5"))
TARGET_S = float(os.environ.get("WATCH_TARGET_S", "50"))
MAX_CAPTURES = int(os.environ.get("WATCH_MAX_CAPTURES", "5"))
# Fallback tiers: if the host never reaches the full-health threshold, a
# sustained mid-grade window (e.g. ~150 MB/s vs r03's 5.8) still yields a
# far better artifact than r03's. (elapsed_h, min_mb_s) — the active
# threshold relaxes over time; bench.py's own probe_gate.met stays pinned
# at 500, so a tiered capture can never masquerade as a healthy-window one
# and better() never lets it overwrite a met=true capture.
TIERS = [(0.0, MIN_MB_S), (0.75, 250.0), (1.25, 140.0)]
# Override the schedule entirely with WATCH_TIERS="h:mb,h:mb" (e.g.
# "0:1200" pins a single high threshold for a scaling-only relaunch where
# a mediocre-window capture would be worse than no capture).
if os.environ.get("WATCH_TIERS"):
    TIERS = [
        (float(h), float(mb))
        for h, mb in (t.split(":") for t in os.environ["WATCH_TIERS"].split(","))
    ]
MIN_CAPTURE_GAP_S = 25 * 60


def probe() -> float:
    # the SAME probe bench.py gates on — imported, not re-implemented, so
    # the watcher's logged mb_s stays comparable with probe_gate values
    # (bench.py imports pyspark lazily; importing it here is cheap)
    from bench import host_fresh_page_mb_s

    return host_fresh_page_mb_s()


def log(event: dict) -> None:
    event["t"] = round(time.time(), 1)
    with open(LOG, "a") as f:
        f.write(json.dumps(event) + "\n")


def run_bench() -> dict | None:
    env = dict(os.environ)
    # the watcher already gated; bench re-checks briefly so a window that
    # decayed during process startup is still caught honestly
    env["SPARK_GRAFT_PROBE_WAIT_S"] = "90"
    try:
        p = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py")],
            capture_output=True, text=True, env=env, cwd=REPO, timeout=3600,
        )
    except subprocess.TimeoutExpired:
        # a tiered-window capture can run many times slower than healthy;
        # a blown budget must not kill the multi-hour watcher itself
        log({"event": "bench_timeout", "timeout_s": 3600})
        return None
    if p.returncode != 0:
        log({"event": "bench_failed", "stderr": p.stderr[-2000:]})
        return None
    try:
        return json.loads(p.stdout.strip().splitlines()[-1])
    except Exception:
        log({"event": "bench_unparseable", "stdout": p.stdout[-2000:]})
        return None


def run_scaling() -> dict | None:
    code = (
        "import json, bench;"
        "r = bench.scaling_run_interleaved("
        "  __import__('os').environ.get('SPARK_GRAFT_WORK',"
        "  '/dev/shm/spark_graft_bench'), rounds=3);"
        "print(json.dumps(r))"
    )
    try:
        p = subprocess.run(
            [sys.executable, "-c", code],
            capture_output=True, text=True, cwd=REPO, timeout=5400,
        )
    except subprocess.TimeoutExpired:
        log({"event": "scaling_timeout", "timeout_s": 5400})
        return None
    if p.returncode != 0:
        log({"event": "scaling_failed", "stderr": p.stderr[-2000:]})
        return None
    try:
        return json.loads(p.stdout.strip().splitlines()[-1])
    except Exception:
        log({"event": "scaling_unparseable", "stdout": p.stdout[-2000:]})
        return None


def better(new: dict, old: dict | None) -> bool:
    if old is None:
        return True
    nm, om = new.get("probe_gate", {}).get("met"), old.get("probe_gate", {}).get("met")
    if nm != om:
        return bool(nm)
    return new.get("value", 1e18) < old.get("value", 1e18)


def active_threshold(elapsed_s: float) -> float:
    thr = TIERS[0][1]
    for h, t in TIERS:
        if elapsed_s >= h * 3600:
            thr = t
    return thr


def refuse_default_overwrite() -> None:
    """The default output names are committed artifacts: write into an
    existing one only when its env var names it explicitly."""
    for var, path in (
        ("WATCH_LOG", LOG),
        ("WATCH_OUT", OUT),
        ("WATCH_SCALING_OUT", SCALING_OUT),
    ):
        if var not in os.environ and os.path.exists(path):
            sys.exit(f"{path} exists; set {var} to write to it anyway")


def main() -> None:
    refuse_default_overwrite()
    os.makedirs(BENCH_DIR, exist_ok=True)
    t_start = time.time()
    t_end = t_start + DEADLINE_H * 3600
    streak, captures, best, scaling_done = 0, 0, None, False
    last_capture_t = 0.0
    if os.path.exists(OUT):
        with open(OUT) as f:
            best = json.load(f)
    log({"event": "watcher_start", "tiers": TIERS, "deadline_h": DEADLINE_H})
    while time.time() < t_end:
        thr = active_threshold(time.time() - t_start)
        mb = probe()
        streak = streak + 1 if mb >= thr else 0
        log({"event": "probe", "mb_s": mb, "streak": streak, "thr": thr})
        if streak >= CONSEC:
            streak = 0
            # a tiered (sub-500) trigger only re-captures if this window is
            # meaningfully better than the one the current best saw, and not
            # more often than every MIN_CAPTURE_GAP_S. A genuinely healthy
            # trigger (mb >= the full gate) is ALWAYS worth it while best is
            # still met=false — otherwise a mediocre tiered capture with
            # probe_mb_s near 500 would permanently veto the met=true
            # capture this watcher exists to produce.
            best_probe = (best or {}).get("probe_gate", {}).get("probe_mb_s", 0)
            worth_it = best is None or (
                not best.get("probe_gate", {}).get("met")
                and (mb >= MIN_MB_S or mb >= 1.3 * best_probe)
            ) or (
                # a met=true capture from a CONTENDED window (value above
                # target) is still improvable: better() replaces met=true
                # only with a lower-value met=true, so re-capturing can
                # only help (round-5: a 58 s met-true capture taken while
                # a 10M benchmark ran would otherwise have frozen the
                # watcher for the rest of the round)
                best.get("probe_gate", {}).get("met")
                and best.get("value", 1e18) > TARGET_S
            )
            gap_ok = time.time() - last_capture_t >= MIN_CAPTURE_GAP_S or mb >= MIN_MB_S
            done_enough = (
                best is not None
                and best.get("probe_gate", {}).get("met")
                and best.get("value", 1e18) <= TARGET_S
            )
            if captures < MAX_CAPTURES and not done_enough and worth_it and gap_ok:
                captures += 1
                last_capture_t = time.time()
                log({"event": "capture_start", "n": captures, "trigger_mb_s": mb})
                res = run_bench()
                if res is not None:
                    log({"event": "capture_done", "value": res.get("value"),
                         "met": res.get("probe_gate", {}).get("met")})
                    if better(res, best):
                        best = res
                        with open(OUT, "w") as f:
                            json.dump(best, f, indent=2)
            elif not scaling_done and (done_enough or captures >= MAX_CAPTURES
                                       or not worth_it):
                log({"event": "scaling_start", "trigger_mb_s": mb})
                sres = run_scaling()
                if sres is not None:
                    with open(SCALING_OUT, "w") as f:
                        json.dump(sres, f, indent=2)
                    scaling_done = True
                    log({"event": "scaling_done",
                         "eff": sres.get("scaling_efficiency")})
            if done_enough and scaling_done:
                log({"event": "watcher_success_exit"})
                return
        time.sleep(POLL_S)
    log({"event": "watcher_deadline_exit", "captures": captures,
         "best_value": best.get("value") if best else None,
         "scaling_done": scaling_done})


if __name__ == "__main__":
    main()
