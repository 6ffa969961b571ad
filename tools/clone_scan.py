#!/usr/bin/env python3
"""List repeated 6-statement windows in each src/main Scala file.

Comments are stripped, and so are the lines of stripMargin SQL (lines
whose first non-blank character is `|`): oracle SQL is meant to
restate what the operator does. Every other non-blank line, with its
whitespace collapsed, is one statement. A window is WINDOW consecutive
statements; a window whose text occurs more than once in the same file
is a clone. Overlapping clone windows merge into one group per pair of
copies, printed as the line ranges of every copy.

Run from the repo root: python3 tools/clone_scan.py [path ...]
With no path it scans src/main. It prints one line per clone group and
a final count of the window starts that take part in a clone.
"""
import os
import re
import sys
from collections import defaultdict

WINDOW = 6


def strip_comments(src):
    src = re.sub(r'/\*.*?\*/', lambda m: '\n' * m.group(0).count('\n'), src,
                 flags=re.S)
    return re.sub(r'//[^\n]*', '', src)


def statements(src):
    out = []
    for no, line in enumerate(strip_comments(src).split('\n'), 1):
        text = ' '.join(line.split())
        if text and not text.startswith('|'):
            out.append((no, text))
    return out


def clones(path):
    with open(path, encoding='utf-8') as f:
        stmts = statements(f.read())
    starts = defaultdict(list)
    for i in range(len(stmts) - WINDOW + 1):
        key = '\n'.join(t for _, t in stmts[i:i + WINDOW])
        starts[key].append(i)
    cloned = {}
    for idx in starts.values():
        if len(idx) > 1:
            for i in idx:
                cloned[i] = idx
    # merge runs of consecutive window starts into groups of copies
    groups, seen = [], set()
    for i in sorted(cloned):
        if i in seen:
            continue
        copies = [[j, j] for j in cloned[i]]
        while all(c[1] + 1 in cloned and c[1] + 1 not in seen
                  for c in copies) and \
                len({len(cloned[c[1] + 1]) for c in copies}) == 1:
            for c in copies:
                c[1] += 1
        for a, b in copies:
            seen.update(range(a, b + 1))
        groups.append([(stmts[a][0], stmts[b + WINDOW - 1][0])
                       for a, b in copies])
    return groups, len(cloned)


def scala_files(roots):
    for root in roots:
        if os.path.isfile(root):
            yield root
            continue
        for dirpath, _, names in os.walk(root):
            for name in sorted(names):
                if name.endswith('.scala'):
                    yield os.path.join(dirpath, name)


def main(argv):
    total = 0
    for path in sorted(scala_files(argv or ['src/main'])):
        groups, n = clones(path)
        total += n
        for g in groups:
            spans = ', '.join(f'{a}-{b}' for a, b in g)
            print(f'{path}: {len(g)} copies at lines {spans}')
    print(total, 'window starts in clones')


if __name__ == '__main__':
    main(sys.argv[1:])
