"""Shared paired-A/B machinery (round-5 VERDICT #7): alternating fresh-JVM
legs, one-JSON-line-per-leg parsing, per-leg CPU-steal share, and the
best/median summary — the pieces crawl_ab.py / neardup_ab.py /
scaling_bench.py each carried by copy.

Protocol: a "leg" is an argv list for a subprocess that prints exactly one
line starting with ``{`` (its JSON record). Legs alternate across variants
so box drift hits every variant equally; each leg gets ``steal_pct``
(stolen-jiffy share over the leg's wall) attached — samples above the 5%
storm threshold are flagged, never silently dropped.
"""

from __future__ import annotations

import json
import subprocess
import sys
import time

STEAL_REJECT_PCT = 5.0


def steal_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat — this sandbox is a VM whose
    host periodically steals CPU; legs that ran through a storm are not
    measurements of this code. Sample selection is a RULE (reject
    steal% > 5), not judgment."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    vals = [int(x) for x in parts[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals)


class steal_window:
    """Context manager: measures steal share across the wrapped block."""

    def __enter__(self):
        self._s0, self._j0 = steal_jiffies()
        return self

    def __exit__(self, *exc):
        s1, j1 = steal_jiffies()
        self.steal_pct = round(100.0 * (s1 - self._s0) / max(1, j1 - self._j0), 2)
        return False


def run_leg(argv: list[str], timeout: int = 900, cwd: str | None = None) -> dict | None:
    """One fresh-JVM leg: run ``argv``, parse its last ``{...}`` stdout line,
    attach steal_pct and wall seconds. None (with stderr echo) on failure."""
    with steal_window() as w:
        t0 = time.time()
        p = subprocess.run(argv, capture_output=True, text=True, timeout=timeout, cwd=cwd)
        wall = time.time() - t0
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if not lines:
        print(f"LEG FAILED {argv}:\n{p.stderr[-1500:]}", flush=True)
        return None
    rec = json.loads(lines[-1])
    rec["steal_pct"] = rec.get("steal_pct", w.steal_pct)
    rec["leg_wall_s"] = round(wall, 1)
    return rec


def alternate(variants: dict[str, list[str]], rounds: int = 2,
              timeout: int = 900, key: str = "sec") -> dict[str, list[dict]]:
    """Alternating legs: round-robin every variant ``rounds`` times, echoing
    each record, then a best/median summary over ``key`` (storm samples
    flagged). Returns all records per variant."""
    results: dict[str, list[dict]] = {v: [] for v in variants}
    for _ in range(rounds):
        for name, argv in variants.items():
            rec = run_leg(argv, timeout=timeout)
            if rec is None:
                continue
            rec["variant"] = name
            results[name].append(rec)
            print(json.dumps(rec), flush=True)
    print(f"\nbest-of-{rounds} (storm legs >{STEAL_REJECT_PCT}% steal flagged):")
    for name, recs in results.items():
        vals = [r[key] for r in recs if key in r]
        if not vals:
            print(f"  {name}: no samples")
            continue
        clean = [r[key] for r in recs
                 if key in r and (r.get("steal_pct") or 0) <= STEAL_REJECT_PCT]
        tag = "" if len(clean) == len(vals) else f" ({len(vals) - len(clean)} storm)"
        use = clean or vals
        print(
            f"  {name}: best={min(use):.1f} "
            f"median={sorted(use)[len(use) // 2]:.1f} samples={vals}{tag}"
        )
    return results


if __name__ == "__main__":
    # smoke: alternate two trivial legs
    v = {
        "a": [sys.executable, "-c", "print('{\"sec\": 1.0}')"],
        "b": [sys.executable, "-c", "print('{\"sec\": 2.0}')"],
    }
    alternate(v, rounds=1)
