#!/usr/bin/env python3
"""Summarize ScalaTest JUnit reports: test count, summed suite time,
per-suite times and the slowest tests.

Usage:
  python3 tools/test_times.py [REPORT_DIR ...] [--top N] [--suites A,B,...]

REPORT_DIR defaults to target/test-reports (sbt writes one
TEST-<suite>.xml per suite there). With one directory it prints the
totals, every suite's time (slowest first) and the N slowest tests.
With several directories (e.g. parent and change runs) it prints one
column per directory: the totals, then the suites named by --suites
(default: every suite), then the N slowest tests of the first one.
"""
import argparse, glob, os, xml.etree.ElementTree as ET


def load(d):
    """{suite: (time_s, tests, failures+errors, [(test, time_s)])}"""
    out = {}
    for path in sorted(glob.glob(os.path.join(d, '*.xml'))):
        s = ET.parse(path).getroot()
        cases = [(c.get('name'), float(c.get('time') or 0))
                 for c in s.iter('testcase')]
        bad = int(s.get('failures') or 0) + int(s.get('errors') or 0)
        out[s.get('name')] = (float(s.get('time') or 0), len(cases), bad, cases)
    return out


def totals(runs):
    return [(sum(r[1] for r in run.values()),
             sum(r[2] for r in run.values()),
             sum(r[0] for r in run.values())) for run in runs]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument('dirs', nargs='*', default=['target/test-reports'])
    ap.add_argument('--top', type=int, default=15)
    ap.add_argument('--suites', default='')
    a = ap.parse_args()
    runs = [load(d) for d in a.dirs]
    for d, run in zip(a.dirs, runs):
        if not run:
            raise SystemExit(f'no TEST-*.xml reports under {d}')
    w = max(12, *(len(os.path.basename(d.rstrip('/'))) for d in a.dirs)) + 2
    head = ''.join(f'{os.path.basename(d.rstrip("/")):>{w}}' for d in a.dirs)
    print(f'{"":40}{head}')
    for label, i, fmt in (('tests', 0, '{:d}'), ('failed', 1, '{:d}'),
                          ('summed suite time (s)', 2, '{:.1f}')):
        print(f'{label:40}' + ''.join(f'{fmt.format(t[i]):>{w}}'
                                       for t in totals(runs)))
    names = [n for n in a.suites.split(',') if n] or sorted(
        set().union(*runs), key=lambda n: -runs[0].get(n, (0,))[0])
    print(f'\n{"suite (s)":40}{head}')
    for n in names:
        full = n if '.' in n else f'graft.{n}'
        cells = [run.get(full, run.get(n)) for run in runs]
        print(f'{n.split(".")[-1]:40}' + ''.join(f'{c[0]:>{w}.1f}' if c else f'{"-":>{w}}'
                                  for c in cells))
    print(f'\nslowest {a.top} tests in {a.dirs[0]} (s)')
    cases = sorted(((t, s, c) for s, r in runs[0].items() for c, t in r[3]),
                   reverse=True)[:a.top]
    for t, s, c in cases:
        print(f'{t:9.1f}  {s.split(".")[-1]}: {c}')


if __name__ == '__main__':
    main()
