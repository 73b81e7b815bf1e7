#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last stdout line.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke        # every workload once, small inputs

Builds the program from source first (perfbench/build.py), makes the
workload's inputs from the seed inside .perfbench/work/<workload>, runs the
JVM half (graft.perfbench.PerfBench) in one local Spark session with
local[nproc], checks every output, and prints

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (the traced run also writes trace.json into the work
directory). The line before it is a metadata object (cpus, heap, seed,
Spark version, calibration, workload figures). Exits 1 when any operation
failed its check, 2 when the program cannot be built or run.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import tables  # noqa: E402

WORKLOADS = ['convert_plain', 'convert_clustered', 'lookup', 'queries']
# input sizes: snapshot coins per workload and the table scale factor
COINS = {'convert_plain': 500_000, 'convert_clustered': 500_000, 'lookup': 250_000, 'queries': 0}
SF = 0.01
SMOKE_COINS, SMOKE_SF = 100_000, 0.001
JVM_TIMEOUT_S = 170
ADD_OPENS = ['java.lang', 'java.lang.invoke', 'java.lang.reflect', 'java.io', 'java.net',
             'java.nio', 'java.util', 'java.util.concurrent', 'java.util.concurrent.atomic',
             'sun.nio.ch', 'sun.nio.cs', 'sun.security.action', 'sun.util.calendar']


def metric_names():
    """(end-to-end names, per-layer names, unit by name) from BENCHMARK.json."""
    spec = json.loads((build.ROOT / 'BENCHMARK.json').read_text())
    units = {m['name']: m['unit'] for m in spec['end_to_end'] + spec['per_layer']}
    return [m['name'] for m in spec['end_to_end']], [m['name'] for m in spec['per_layer']], units


def check_oracle(tables_dir, check_dir):
    """Compares the results under check_dir with their DuckDB oracle by
    running the repository's scripts/check_oracle.py unchanged. Returns
    ([(name, why)] for every failing entry, entries compared)."""
    p = subprocess.run([sys.executable, str(build.ROOT / 'scripts' / 'check_oracle.py'),
                        str(tables_dir), str(check_dir)], capture_output=True, text=True)
    lines = p.stdout.splitlines()
    total = [ln.split()[1] for ln in lines if ln.startswith('MATCH ')]
    bad = [tuple(ln[len('FAIL '):].split(' -- ', 1)) for ln in lines if ln.startswith('FAIL ')]
    if p.returncode not in (0, 1) or not total or (p.returncode == 1) != bool(bad):
        raise SystemExit(f'check_oracle.py exited {p.returncode}:\n{p.stderr[-2000:]}')
    return bad, int(total[0].split('/')[1])


def run_jvm(workload, seed, seconds, trace, smoke):
    """Runs one workload; returns (result dict, setup start ms)."""
    coins = min(COINS[workload], SMOKE_COINS) if smoke else COINS[workload]
    work = build.ROOT / '.perfbench' / 'work' / workload
    shutil.rmtree(work, ignore_errors=True)
    (work / 'tmp').mkdir(parents=True)
    setup_start_ms = int(time.time() * 1000)
    args = ['--workload', workload, '--seed', str(seed), '--seconds', str(seconds),
            '--trace', '1' if trace else '0', '--work', str(work), '--coins', str(coins)]
    if workload == 'queries':
        tables.generate(SMOKE_SF if smoke else SF, seed, work / 'tables')
        args += ['--tables', str(work / 'tables')]
    mem = os.environ.get('SPARK_DRIVER_MEM', '4g')
    cmd = (['java', '-XX:-UsePerfData', f'-Xmx{mem}', f'-Djava.io.tmpdir={work / "tmp"}',
            f'-Dderby.system.home={work}', '-Dspark.ui.enabled=false']
           + [f'--add-opens=java.base/{p}=ALL-UNNAMED' for p in ADD_OPENS]
           + ['-cp', build.classpath(), 'graft.perfbench.PerfBench'] + args)
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                            env={**os.environ, 'SPARK_DRIVER_MEM': mem})
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f'{workload}: JVM timed out after {JVM_TIMEOUT_S}s')
    result_file = work / 'result.json'
    if not result_file.exists():
        raise SystemExit(f'{workload}: JVM exited {code} without a result')
    result = json.loads(result_file.read_text())
    if workload == 'queries' and (work / 'check' / 'oracle_sql.json').exists():
        bad, n = check_oracle(work / 'tables', work / 'check')
        result['attempted'] += n
        result['failed'] += len(bad)
        result['errors'] += [f'oracle {name}: {why}' for name, why in bad]
    return result, setup_start_ms


def one(workload, seed, seconds, trace, smoke=False):
    e2e_names, layer_names, units = metric_names()
    result, setup_start_ms = run_jvm(workload, seed, seconds, trace, smoke)
    e2e = dict(result['end_to_end'])
    if result['setup_end_ms'] > 0:
        e2e['setup_s'] = (result['setup_end_ms'] - setup_start_ms) / 1000.0
    if trace:
        # a layer the workload does not reach did no work on it
        values = {n: 0.0 for n in layer_names}
        values.update(result['per_layer'])
        result['meta']['not_reached'] = sorted(set(layer_names) - set(result['per_layer']))
        names = layer_names
    else:
        values, names = e2e, e2e_names
    missing = [n for n in names if n not in values]
    if missing:
        result['errors'].append(f'metrics not measured: {missing}')
        result['failed'] += 1
    for err in result['errors']:
        print(f'[perfbench] {workload}: {err}', file=sys.stderr)
    failed = result['failed']
    meta = {'workload': workload, 'seconds': seconds, 'trace': trace, **result['meta']}
    meta['figures']['failed_ops_ratio'] = {'value': failed / result['attempted'], 'unit': 'ratio'}
    if 'setup_s' in e2e:
        meta['figures']['setup_s'] = {'value': e2e['setup_s'], 'unit': 's'}
    print(json.dumps(meta))
    return {
        'correct': failed == 0,
        'attempted': result['attempted'],
        'failed': failed,
        'metrics': {n: {'value': values[n], 'unit': units[n]} for n in names if n in values},
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument('--workload', choices=WORKLOADS)
    ap.add_argument('--seed', type=int, default=1)
    ap.add_argument('--seconds', type=float, default=6)
    ap.add_argument('--trace', type=int, choices=[0, 1], default=0)
    ap.add_argument('--smoke', action='store_true',
                    help='run every workload once on small inputs')
    a = ap.parse_args()
    try:
        build.build()
    except (SystemExit, subprocess.CalledProcessError, FileNotFoundError) as e:
        print(f'[perfbench] build failed: {e}', file=sys.stderr)
        return 2
    if a.smoke:
        results = [one(w, a.seed, 1, a.trace == 1, smoke=True) for w in WORKLOADS]
        out = {'correct': all(r['correct'] for r in results),
               'attempted': sum(r['attempted'] for r in results),
               'failed': sum(r['failed'] for r in results),
               'metrics': {f'{w}.{k}': v for w, r in zip(WORKLOADS, results)
                           for k, v in r['metrics'].items()}}
    else:
        if not a.workload:
            ap.error('--workload is required')
        out = one(a.workload, a.seed, a.seconds, a.trace == 1)
    print(json.dumps(out))
    return 0 if out['correct'] else 1


if __name__ == '__main__':
    try:
        sys.exit(main())
    except SystemExit as e:
        if isinstance(e.code, str):
            print(f'[perfbench] {e.code}', file=sys.stderr)
            sys.exit(2)
        raise
