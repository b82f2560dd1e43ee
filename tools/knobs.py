#!/usr/bin/env python3
"""Count the engine's defaulted parameters and the ones no caller sets.

    python3 tools/knobs.py [--list]      (from the root of the checkout)

Per file of src/main, counts the parameters of every `def` and class that carry
a default, and marks one "unset" when no call site in src/main, src/test or
perfbench/harness/src passes it, by name (`k = 32`) or by position; `--list`
prints those as `file:line def.param`. APPROXIMATE: regexes and bracket counting
over the source with comments and strings blanked out, not a Scala parser.
Calls match by method name alone (same-named methods share call sites), and
calls through eta-expansion or `apply` are not seen.
"""
import os
import re
import sys

STRIP = re.compile(r'"""[\s\S]*?"""|"(?:\\.|[^"\\\n])*"|\'(?:\\.|[^\'\\\n])\'|//[^\n]*|/\*[\s\S]*?\*/')
DEF = re.compile(r'\b(?:def|class)\s+([\w$]+)\s*')
PARAM = re.compile(r'^\s*(?:@\w+\s+)*(?:(?:implicit|private|protected|override|final|val|var)\s+)*'
                   r'(\w+)\s*:(.*)$', re.S)
NAMED = re.compile(r'^\s*(\w+)\s*=(?![>=])')


def source(root):  # (path, text with comments and strings blanked, lines kept)
    for d, _, fs in os.walk(root):
        for f in sorted(x for x in fs if x.endswith(".scala")):
            text = open(os.path.join(d, f), encoding="utf-8").read()
            yield os.path.join(d, f), STRIP.sub(lambda m: "\n" * m.group(0).count("\n"), text)


def arg_lists(s, i):  # the (...) lists after position i, split at top-level commas
    lists = []
    while True:
        while i < len(s) and s[i].isspace():
            i += 1
        if i >= len(s) or s[i] not in "([" or (s[i] == "[" and lists):
            return lists  # a leading [...] holds type arguments: skipped
        depth, parts, start = 0, [], i + 1
        for j in range(i, len(s)):
            depth += (s[j] in "([{") - (s[j] in ")]}")
            if depth == 1 and s[j] == ",":
                parts, start = parts + [s[start:j]], j + 1
            elif depth == 0:
                break
        if s[i] == "(":
            lists.append(parts + [s[start:j]] if s[start:j].strip() else parts)
        i = j + 1


def main():
    defaults = []  # (file, line, def name, list index, position, param name)
    for path, s in source("src/main"):
        for m in DEF.finditer(s):
            for li, params in enumerate(arg_lists(s, m.end())):
                for pos, p in enumerate(params):
                    pm = PARAM.match(p)
                    if pm and re.search(r'=(?![>=])', pm.group(2)):
                        line = s.count("\n", 0, m.start()) + 1
                        defaults.append((path, line, m.group(1), li, pos, pm.group(1)))
    call = re.compile(r'(?<![\w$])(%s)\b' % "|".join(sorted({re.escape(d[2]) for d in defaults})))
    setby = set()  # (def name, param name) or (def name, list index, position)
    for root in ("src/main", "src/test", "perfbench/harness/src"):
        for _, s in source(root):
            for m in call.finditer(s):
                if re.search(r'\b(?:def|class)\s+$', s[max(0, m.start() - 12):m.start()]):
                    continue
                for li, args in enumerate(arg_lists(s, m.end())):
                    for pos, a in enumerate(args):
                        nm = NAMED.match(a)
                        setby.add((m.group(1), nm.group(1)) if nm else (m.group(1), li, pos))
    per_file, unset = {}, []
    for path, line, fn, li, pos, name in defaults:
        free = (fn, name) not in setby and (fn, li, pos) not in setby
        n, u = per_file.get(path, (0, 0))
        per_file[path] = (n + 1, u + free)
        unset += [f"{path}:{line} {fn}.{name}"] if free else []
    for path, (n, u) in sorted(per_file.items()):
        print(f"{n:4d} defaulted {u:4d} unset  {path}")
    tot = [sum(c) for c in zip(*per_file.values())]
    ops = [sum(c) for c in zip(*(c for p, c in per_file.items()
                                 if "/operators/" in p or "/streaming/" in p))]
    print(f"total: {tot[0]} defaulted, {tot[1]} unset; "
          f"operators/ + streaming/: {ops[0]} defaulted, {ops[1]} unset")
    if "--list" in sys.argv:
        print("\n".join(unset))


if __name__ == "__main__":
    main()
