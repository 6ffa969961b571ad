#!/usr/bin/env python3
"""List public src/main definitions that nothing outside src/test names.

A top-level or object-member `def`/`val`/`object`/`class`/`trait` counts
when, with comments and string literals stripped, its name appears
nowhere in src/main except at its own definition and nowhere in
perfbench/src. Private and overriding members are skipped. The mains
and `SparkEntry.entry` show up too; they have callers outside the code
base.

Run from the repo root: python3 tools/spec_only_scan.py
"""
import os
import re


def strip(src):
    src = re.sub(r'/\*.*?\*/', lambda m: '\n' * m.group(0).count('\n'), src,
                 flags=re.S)
    src = re.sub(r'//[^\n]*', '', src)
    return re.sub(r'"(?:\\.|[^"\\\n])*"', '""', src)


def sources(root):
    for dirpath, _, names in os.walk(root):
        for name in names:
            if name.endswith('.scala'):
                path = os.path.join(dirpath, name)
                with open(path, encoding='utf-8') as f:
                    yield path, strip(f.read())


DEF = re.compile(r'^([ \t]*)((?:(?:private\S*|override|final|implicit|lazy|'
                 r'case|sealed|abstract)\s+)*)(def|val|object|class|trait)\s+'
                 r'([A-Za-z_]\w*)', re.M)

main = dict(sources('src/main'))
bench = '\n'.join(src for _, src in sources('perfbench/src'))
found = []
for path, src in sorted(main.items()):
    for m in DEF.finditer(src):
        indent, mods, kind, name = m.groups()
        if len(indent) > 2 or 'private' in mods or 'override' in mods:
            continue
        word = re.compile(r'\b' + re.escape(name) + r'\b')
        uses = sum(len(word.findall(s)) for s in main.values()) - 1
        if uses == 0 and not word.search(bench):
            line = src.count('\n', 0, m.start()) + 1
            found.append(f'{path}:{line}: {kind} {name}')
print('\n'.join(found))
print(len(found), 'definitions')
