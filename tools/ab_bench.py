#!/usr/bin/env python3
"""Run the benchmark in alternating pairs: a base revision against this
checkout.

For pair i (seed = SEED0 + i) it runs `perfbench/run.py --workload W
--seed <seed> --seconds <run_seconds from BENCHMARK.json>` once in the
base checkout and once in this one, the base first on even i and second
on odd i, so drift on a shared host falls on both sides alike. Pick seeds
no earlier run used: perfbench caches each seed's inputs.

The base checkout is the committed tree of REV exported with
`git archive` to target/ab_base_<commit>/ (kept, so later invocations
reuse its build); this checkout runs as it is on disk, so it prints a
warning first when `git status` shows uncommitted or untracked files,
which the change side would measure although a commit would not hold
them. Each run's last stdout line is perfbench's JSON result.

It prints, per run, the seed, the side, `failed` and `correct`; then, for
every end-to-end metric in BENCHMARK.json, the median [Q1-Q3] of each
side, the relative change of the medians, the number of pairs the
change won (ties count for neither side) and a verdict: `worse` when the
change's median is worse than the base's by more than the metric's
bound, `unresolved` when the runs of either side range wider than the
bound (max - min over the median) and not every change run beats every
base run, else `within bound`.

Run from the repo root:
  python3 tools/ab_bench.py --base REV --workload W --pairs N --seed0 S
Every run's stdout and stderr go to target/ab_bench/.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def base_checkout(rev):
    sha = subprocess.run(['git', 'rev-parse', '--verify', rev + '^{commit}'],
                         cwd=ROOT, check=True, capture_output=True,
                         text=True).stdout.strip()
    path = os.path.join(ROOT, 'target', f'ab_base_{sha[:12]}')
    if not os.path.isdir(path):
        tmp = path + '.partial'
        subprocess.run(['rm', '-rf', tmp], check=True)
        os.makedirs(tmp)
        archive = subprocess.Popen(['git', 'archive', sha], cwd=ROOT,
                                   stdout=subprocess.PIPE)
        subprocess.run(['tar', '-x', '-C', tmp], stdin=archive.stdout,
                       check=True)
        if archive.wait() != 0:
            sys.exit(f'git archive {sha} failed')
        os.rename(tmp, path)
    return path


def warn_if_dirty():
    dirty = subprocess.run(['git', 'status', '--porcelain'], cwd=ROOT,
                           check=True, capture_output=True,
                           text=True).stdout.splitlines()
    if dirty:
        print(f'warning: {len(dirty)} uncommitted or untracked paths in this'
              f' checkout (first: {dirty[0].strip()}); the change side'
              ' measures them, not HEAD', file=sys.stderr, flush=True)


def run(checkout, workload, seed, seconds, log):
    cmd = [sys.executable, 'perfbench/run.py', '--workload', workload,
           '--seed', str(seed), '--seconds', str(seconds)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    with open(log, 'w') as f:
        f.write(p.stdout + '\n--- stderr ---\n' + p.stderr)
    lines = p.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return {'correct': False, 'failed': None, 'metrics': {},
                'error': f'no result (exit {p.returncode}), see {log}'}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method='inclusive')
    return q1, med, q3


def better(a, b, lower):
    return a < b if lower else a > b


def report(metric, base, change):
    name, lower, bound = metric['name'], metric['better'] == 'lower', \
        metric['bound']
    pairs = [(b, c) for b, c in zip(base, change)
             if b is not None and c is not None]
    if not pairs:
        return f'{name}: no paired values'
    bs, cs = [b for b, _ in pairs], [c for _, c in pairs]
    bq, cq = quartiles(bs), quartiles(cs)
    wins = sum(better(c, b, lower) for b, c in pairs)
    rel = (cq[1] - bq[1]) / bq[1] if bq[1] else 0.0
    worse = rel > bound if lower else rel < -bound
    spread = max((max(xs) - min(xs)) / abs(statistics.median(xs))
                 if statistics.median(xs) else 0.0 for xs in (bs, cs))
    all_better = all(better(c, b, lower) for c in cs for b in bs)
    verdict = 'worse' if worse else \
        'unresolved' if spread > bound and not all_better else 'within bound'
    fmt = '{:.4g} [{:.4g}-{:.4g}]'
    return (f'{name}: base {fmt.format(bq[1], bq[0], bq[2])}'
            f' -> change {fmt.format(cq[1], cq[0], cq[2])}'
            f' ({rel:+.1%}), change better in {wins}/{len(pairs)} pairs,'
            f' range {spread:.0%} of median, bound {bound:.0%}: {verdict}')


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument('--base', required=True)
    ap.add_argument('--workload', required=True)
    ap.add_argument('--pairs', type=int, required=True)
    ap.add_argument('--seed0', type=int, required=True)
    a = ap.parse_args(argv)
    with open(os.path.join(ROOT, 'BENCHMARK.json')) as f:
        bench = json.load(f)
    warn_if_dirty()
    sides = {'base': base_checkout(a.base), 'change': ROOT}
    logs = os.path.join(ROOT, 'target', 'ab_bench')
    os.makedirs(logs, exist_ok=True)
    results = {'base': [], 'change': []}
    for i in range(a.pairs):
        seed = a.seed0 + i
        for side in (('base', 'change') if i % 2 == 0 else
                     ('change', 'base')):
            log = os.path.join(logs, f'{a.workload}-seed{seed}-{side}.log')
            r = run(sides[side], a.workload, seed, bench['run_seconds'], log)
            results[side].append(r)
            print(f'seed {seed} {side}: failed={r.get("failed")}'
                  f' correct={r.get("correct")}'
                  + (f' {r["error"]}' if 'error' in r else ''), flush=True)
    for metric in bench['end_to_end']:
        vals = {side: [r['metrics'].get(metric['name'], {}).get('value')
                       for r in rs] for side, rs in results.items()}
        print(report(metric, vals['base'], vals['change']))
    ok = all(r.get('failed') == 0 for rs in results.values() for r in rs)
    return 0 if ok else 1


if __name__ == '__main__':
    sys.exit(main())
