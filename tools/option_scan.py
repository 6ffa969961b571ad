#!/usr/bin/env python3
"""List the defaulted parameters of src/main defs that no call sets.

Every `def` in src/main with a parameter of the form `name: T = v` is
checked against every call of that def's name in src/main,
perfbench/src and src/test. A call sets a parameter when it passes it
by name (`f(k = 3)`) or by position (the parameter's index in its list
is below the number of positional arguments given to that list).
Eta-expansion (`f _`) sets every parameter. A call qualified by another
object's name (`Other.f(...)`) is not a call of this def; any other
call of the name counts, so overloads and same-named defs elsewhere
keep each other's parameters.

Comments and string literals are stripped as in spec_only_scan.py;
triple-quoted literals are one literal, and the `${...}` splices of
interpolated strings are kept, since they are code.

Run from the repo root: python3 tools/option_scan.py
It prints (a) every defaulted parameter that no call in src/main,
perfbench/src or src/test sets, then (b) the ones that only src/test
sets, each as `path:line: Owner.def(param)`, and the counts.
"""
import os
import re

IDENT = re.compile(r'[A-Za-z_]\w*')


def strip(src):
    """Blank comments, char and string literals; keep line breaks and
    the code inside `${...}` splices of interpolated strings."""
    out, i, n = [], 0, len(src)
    while i < n:
        c = src[i]
        if src.startswith('//', i):
            j = src.find('\n', i)
            i = n if j < 0 else j
        elif src.startswith('/*', i):
            j = src.find('*/', i + 2)
            j = n if j < 0 else j + 2
            out.append('\n' * src.count('\n', i, j))
            i = j
        elif c == '"':
            interp = i > 0 and (src[i - 1].isalnum() or src[i - 1] == '_')
            triple = src.startswith('"""', i)
            i += 3 if triple else 1
            body = []
            while i < n:
                if triple and src.startswith('"""', i):
                    i += 3
                    while i < n and src[i] == '"':  # """ ends at the last "
                        i += 1
                    break
                if not triple and src[i] == '"':
                    i += 1
                    break
                if not triple and src[i] == '\\':
                    i += 2
                    continue
                if interp and src.startswith('${', i):
                    depth, j = 0, i + 1
                    while j < n:
                        depth += {'{': 1, '}': -1}.get(src[j], 0)
                        if depth == 0:
                            break
                        j += 1
                    body.append(' ' + strip(src[i + 2:j]) + ' ')
                    i = j + 1
                    continue
                if src[i] == '\n':
                    body.append('\n')
                i += 1
            out.append('""' + ''.join(body))
        elif c == "'" and re.match(r"'(?:\\.|[^'\\\n])'", src[i:i + 4]):
            m = re.match(r"'(?:\\.|[^'\\\n])'", src[i:i + 4])
            out.append("' '")
            i += len(m.group(0))
        else:
            out.append(c)
            i += 1
    return ''.join(out)


def sources(root):
    for dirpath, _, names in os.walk(root):
        for name in sorted(names):
            if name.endswith('.scala'):
                path = os.path.join(dirpath, name)
                with open(path, encoding='utf-8') as f:
                    yield path, strip(f.read())


def group(src, i):
    """Index just past the bracket group that opens at src[i]."""
    depth = 0
    for j in range(i, len(src)):
        if src[j] in '([{':
            depth += 1
        elif src[j] in ')]}':
            depth -= 1
            if depth == 0:
                return j + 1
    return len(src)


def split_top(text):
    parts, depth, start = [], 0, 0
    for j, c in enumerate(text):
        if c in '([{':
            depth += 1
        elif c in ')]}':
            depth -= 1
        elif c == ',' and depth == 0:
            parts.append(text[start:j])
            start = j + 1
    parts.append(text[start:])
    return [p for p in parts if p.strip()]


def skip_ws(src, i):
    while i < len(src) and src[i] in ' \t\n\r':
        i += 1
    return i


ASSIGN = re.compile(r'(?<![=<>!:])=(?![=>])')
PARAM = re.compile(r'^\s*(?:@\w+\s+)*(?:implicit\s+)?(?:(?:val|var)\s+)?'
                   r'([A-Za-z_]\w*)\s*:')
NAMED = re.compile(r'^\s*([A-Za-z_]\w*)\s*=(?![=>])')
DEF = re.compile(r'\bdef\s+([A-Za-z_]\w*)')
OWNER = re.compile(r'^([ \t]*)(?:[\w\[\]]+\s+)*(?:object|class|trait)\s+'
                   r'([A-Za-z_]\w*)', re.M)


def param_lists(src, i):
    """The parameter lists of the def whose name ends at src[i]."""
    i = skip_ws(src, i)
    if i < len(src) and src[i] == '[':
        i = skip_ws(src, group(src, i))
    lists = []
    while i < len(src) and src[i] == '(':
        end = group(src, i)
        lists.append(split_top(src[i + 1:end - 1]))
        i = skip_ws(src, end)
    return lists


def owner_of(src, pos):
    """Innermost object/class/trait whose header precedes pos at a
    smaller indent than the def's own line."""
    line_start = src.rfind('\n', 0, pos) + 1
    indent = len(src[line_start:pos]) - len(src[line_start:pos].lstrip())
    for m in reversed(list(OWNER.finditer(src, 0, pos))):
        if len(m.group(1)) < indent:
            return m.group(2)
    return '?'


main = dict(sources('src/main'))
bench = dict(sources('perfbench/src'))
test = dict(sources('src/test'))
objects = {m.group(2) for s in main.values() for m in OWNER.finditer(s)}


def indent_at(src, pos):
    line_start = src.rfind('\n', 0, pos) + 1
    line = src[line_start:pos]
    return len(line) - len(line.lstrip())


# every def of every corpus: path -> [(pos, indent, name, lists)], where
# lists holds, per parameter list, [(param, default text or None)]
defs = {}
for path, src in list(main.items()) + list(bench.items()) + \
        list(test.items()):
    rows = defs.setdefault(path, [])
    for m in DEF.finditer(src):
        lists = []
        for params in param_lists(src, m.end()):
            row = []
            for p in params:
                pm = PARAM.match(p)
                if not pm:
                    continue
                eq = ASSIGN.search(p, pm.end())
                row.append((pm.group(1),
                            p[eq.end():].strip() if eq else None))
            lists.append(row)
        rows.append((m.start(), indent_at(src, m.start()), m.group(1),
                     lists))

defaults = []  # (path, line, owner, def, list index, param index, param)
default_text = {}  # (path, def pos, param) -> default text
for path, src in sorted(main.items()):
    for pos, _, name, lists in defs[path]:
        for li, params in enumerate(lists):
            for pi, (param, dflt) in enumerate(params):
                if dflt is not None:
                    line = src.count('\n', 0, pos) + 1
                    defaults.append((path, line, owner_of(src, pos), name,
                                     li, pi, param, pos))
                    default_text[(path, pos, param)] = dflt


def enclosing(path, src, pos):
    """The innermost def whose header precedes pos at a smaller indent
    than pos's own line: the def a call at pos sits in."""
    ind = indent_at(src, pos)
    for d in reversed(defs[path]):
        if d[0] < pos and d[1] < ind:
            return d
    return None


def calls(name, owner, corpus):
    """One record per argument that some call of `name` in corpus
    passes: (path, list index, param index or name, argument text,
    enclosing def). A call that eta-expands `name` gives
    (path, '*', None, None, None)."""
    found = []
    word = re.compile(r'\b' + re.escape(name) + r'\b')
    for path, src in corpus.items():
        for m in word.finditer(src):
            before = src[max(0, m.start() - 200):m.start()].rstrip()
            if re.search(r'\bdef$', before):
                continue
            q = re.search(r'([A-Za-z_]\w*)\s*\.$', before)
            if q and q.group(1) in objects and q.group(1) != owner:
                continue
            i = skip_ws(src, m.end())
            if src.startswith('_', i) and not IDENT.match(src, i + 1):
                found.append((path, '*', None, None, None))
                continue
            if i < len(src) and src[i] == '[':
                i = skip_ws(src, group(src, i))
            li, encl = 0, None
            while i < len(src) and src[i] in '({':
                if encl is None:
                    encl = enclosing(path, src, m.start())
                end = group(src, i)
                args = [src[i + 1:end - 1]] if src[i] == '{' \
                    else split_top(src[i + 1:end - 1])
                for ai, a in enumerate(args):
                    named = NAMED.match(a) if src[i] == '(' else None
                    text = a[named.end():] if named else a
                    found.append((path, li, named.group(1) if named else ai,
                                  text.strip(), encl))
                li += 1
                i = skip_ws(src, end)
    return found


def sets(d, rec, is_set_key):
    """Whether call record rec sets default d. An argument that restates
    d's own default text (in d's own file) sets nothing; one that
    forwards a defaulted parameter of the calling def sets d only when
    that parameter is set."""
    path, li, key, text, encl = rec
    if li == '*':
        return True
    if li != d[4] or key not in (d[5], d[6]):
        return False
    if path == d[0] and text == default_text[(d[0], d[7], d[6])]:
        return False
    if encl is not None and IDENT.fullmatch(text):
        for params in encl[3]:
            for param, dflt in params:
                if param == text:
                    fwd = (path, encl[0], param)
                    return dflt is None or fwd not in default_text or \
                        is_set_key(fwd)
    return True


def fixpoint(records):
    """Keys (path, def pos, param) of the defaults some record sets,
    closed over forwarding."""
    done = set()
    changed = True
    while changed:
        changed = False
        for d in defaults:
            key = (d[0], d[7], d[6])
            if key not in done and any(
                    sets(d, r, done.__contains__) for r in records[d]):
                done.add(key)
                changed = True
    return done


outside, everywhere, cache = {}, {}, {}
for d in defaults:
    ckey = (d[3], d[2])
    if ckey not in cache:
        o = calls(d[3], d[2], main) + calls(d[3], d[2], bench)
        cache[ckey] = (o, o + calls(d[3], d[2], test))
    outside[d], everywhere[d] = cache[ckey]
set_outside, set_anywhere = fixpoint(outside), fixpoint(everywhere)

unset, test_only = [], []
for d in defaults:
    key = (d[0], d[7], d[6])
    if key in set_outside:
        continue
    row = f'{d[0]}:{d[1]}: {d[2]}.{d[3]}({d[6]})'
    (test_only if key in set_anywhere else unset).append(row)

print('(a) defaulted parameters that no call sets:')
print('\n'.join(unset))
print('(b) defaulted parameters that only src/test sets:')
print('\n'.join(test_only))
print(len(defaults), 'defaulted parameters,', len(unset), 'never set,',
      len(test_only), 'set only by src/test')
