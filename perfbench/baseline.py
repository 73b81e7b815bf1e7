#!/usr/bin/env python3
"""Runs every workload of BENCHMARK.json over several seeds and records each
end-to-end metric's values, median, quartiles and spread (the quartile
distance over the median, from statistics.quantiles(values, n=4)).

    python3 perfbench/baseline.py --seeds 1-10 --out perfbench/baseline/untraced.json
    python3 perfbench/baseline.py --seeds 1 --trace 1 --out perfbench/baseline/traced.json

The traced form keeps each run's per-layer metrics and metadata instead.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec):
    lo, _, hi = spec.partition('-')
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload, seed, trace):
    p = subprocess.run([sys.executable, 'perfbench/run.py', '--workload', workload,
                        '--seed', str(seed), '--seconds', str(SPEC['run_seconds']),
                        '--trace', str(trace)], cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise SystemExit(f'{workload} seed {seed} exited {p.returncode}:\n{p.stderr[-3000:]}')
    return json.loads(lines[-2]), json.loads(lines[-1])


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {'values': values, 'median': med, 'q1': q1, 'q3': q3,
            'spread': (q3 - q1) / med if med else None}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument('--seeds', default='1-10')
    ap.add_argument('--trace', type=int, default=0)
    ap.add_argument('--out', required=True)
    a = ap.parse_args()
    out = {}
    for w in [w['name'] for w in SPEC['workloads']]:
        runs = [run(w, s, a.trace) for s in seeds(a.seeds)]
        if a.trace:
            out[w] = [{'meta': m, 'result': r} for m, r in runs]
            continue
        names = [m['name'] for m in SPEC['end_to_end']]
        out[w] = {n: summary([r['metrics'][n]['value'] for _, r in runs]) for n in names}
        out[w]['figures'] = {f: summary([m['figures'][f]['value'] for m, _ in runs])
                             for f in runs[0][0]['figures']}
        out[w]['weather_factor'] = [m['weather_factor'] for m, _ in runs]
        out[w]['op_ms'] = [m['op_ms'] for m, _ in runs]
        for n in names:
            print(f"{w:18} {n:12} median {out[w][n]['median']:10.2f} "
                  f"spread {out[w][n]['spread']:.3f}", file=sys.stderr)
    Path(a.out).parent.mkdir(parents=True, exist_ok=True)
    Path(a.out).write_text(json.dumps(out, indent=1) + '\n')


SPEC = json.loads((ROOT / 'BENCHMARK.json').read_text())

if __name__ == '__main__':
    main()
