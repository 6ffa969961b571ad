#!/usr/bin/env python3
"""Compare two graft.Explain dumps entry by entry.

graft.Explain prints `########## <entry>` and then the entry's formatted
physical plan. Plans of the same code differ from JVM to JVM in values
that carry no meaning, so both dumps are normalized first:

- expression ids are numbered by first appearance within the entry
  (`doc_id#3352L` -> `doc_id#1L`), which keeps which references name
  the same attribute; `plan_id=` values are dropped,
- RDD ids (`MapPartitionsRDD[816]`),
- lambda class names and object hashes (`$$Lambda$5671/0x...@5ca15fbc`),
- the random part of temp directory names (`graft_daily_e2e_123...`,
  UUIDs),
- source line numbers (`at shared at CurateOps.scala:40`), which
  move whenever the file is edited above the call site.

Each entry is then `same` (identical normalized text), `reordered` or
`changed`. `reordered` means that, with expression ids dropped, the two
plans have the same number of lines and each line holds the same tokens
as its counterpart in a different order: the order of the projections
in a multi-distinct `Expand`, and of every grouping key after it, can
differ between JVMs. A node moved to another place in the tree, or
swapped join sides, change whole lines and read `changed`; swapped
operands read `reordered`. An entry present in only one dump is
`changed`.

`reordered` is expected only for the entries in EXPAND_ORDER, whose
multi-distinct rewrite prints its `Expand` in a per-JVM order.

Run from anywhere: python3 tools/plan_diff.py A B [ENTRY ...]
A and B are Explain outputs, raw or as sbt prints them (`[info] `
prefixes are stripped; sbt's `[error]`/`[warn]`/`[success]` lines,
which carry the JVM's stderr, are dropped). It prints one
`<entry> <verdict>` line per entry and a count per verdict; for each
ENTRY named it also prints the unified diff of the normalized plans.
Exit status 1 when any entry is `changed`, or `reordered` without being
in EXPAND_ORDER (printed as `reordered (unexpected)`).
"""
import collections
import difflib
import re
import sys

HEADER = '########## '

# entries whose multi-distinct aggregate prints its `Expand` projections,
# and every grouping key after them, in an order that differs by JVM
EXPAND_ORDER = frozenset([
    'q_chi2', 'q_distinct_approx', 'q_distinct_count', 'etl_profile',
    'etl_profile_approx', 'etl_suggest_rules', 'dedup_decontaminate_report',
])

EXPR_ID = re.compile(r'#(\d+)')

RULES = [
    (re.compile(r'plan_id=\d+'), 'plan_id=N'),
    (re.compile(r'(\w*RDD)\[\d+\]'), r'\1[N]'),
    (re.compile(r'\$+Lambda[$\w]*/0x[0-9a-f]+'), '$Lambda'),
    (re.compile(r'\$+Lambda\$\d+'), '$Lambda'),
    (re.compile(r'@[0-9a-f]{4,}\b'), '@H'),
    (re.compile(r'[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-'
                r'[0-9a-f]{12}'), 'UUID'),
    (re.compile(r'(graft_\w+?_)\d+'), r'\1N'),
    (re.compile(r'(\w+\.(?:scala|java)):\d+'), r'\1:N'),
]


def normalize(line):
    for pat, rep in RULES:
        line = pat.sub(rep, line)
    return line


def number_ids(plan):
    """Expression ids renamed 1, 2, ... in order of first appearance."""
    ids = {}

    def sub(m):
        return '#' + str(ids.setdefault(m.group(1), len(ids) + 1))
    return [EXPR_ID.sub(sub, line) for line in plan]


def parse(lines):
    """{entry: [normalized plan lines]} from an Explain dump."""
    plans, cur = {}, None
    for raw in lines:
        line = raw.rstrip('\n')
        if line.startswith('[info] '):
            line = line[len('[info] '):]
        elif re.match(r'\[(error|warn|success)\]', line):
            continue
        if line.startswith(HEADER):
            cur = line[len(HEADER):].strip()
            plans[cur] = []
        elif cur is not None:
            plans[cur].append(normalize(line))
    return {k: number_ids([l for l in v if l.strip()])
            for k, v in plans.items()}


def tokens(line):
    return collections.Counter(
        re.findall(r'\w+|[^\w\s]', EXPR_ID.sub('#', line)))


def verdict(a, b):
    if a is None or b is None:
        return 'changed'
    if a == b:
        return 'same'
    if len(a) == len(b) and all(tokens(x) == tokens(y)
                                for x, y in zip(a, b)):
        return 'reordered'
    return 'changed'


def read(path):
    with open(path, encoding='utf-8', errors='replace') as f:
        return parse(f)


def main(argv):
    if len(argv) < 2:
        sys.exit(__doc__)
    a, b = read(argv[0]), read(argv[1])
    counts, unexpected = collections.Counter(), 0
    for name in sorted(set(a) | set(b)):
        v = verdict(a.get(name), b.get(name))
        counts[v] += 1
        note = ' (only in A)' if name not in b else \
            ' (only in B)' if name not in a else ''
        if v == 'reordered' and name not in EXPAND_ORDER:
            unexpected += 1
            note = ' (unexpected)'
        print(f'{name} {v}{note}')
    for name in argv[2:]:
        for line in difflib.unified_diff(
                a.get(name, []), b.get(name, []), f'A/{name}', f'B/{name}',
                lineterm=''):
            print(line)
    print(', '.join(f'{counts[v]} {v}' for v in ('same', 'reordered',
                                                  'changed')))
    return 1 if counts['changed'] or unexpected else 0


if __name__ == '__main__':
    sys.exit(main(sys.argv[1:]))
