"""Count duplicated source lines. A window is 5 consecutive lines of one
file, skipping blank lines and comment lines (`//`, `/*`, `*`) and with
whitespace normalized; a line is duplicated when it lies in a window that
occurs more than once anywhere in the scanned files. Usage:
    python3 tools/dup_scan.py [--file F] PATHS...
PATHS are `.scala` files or directories (walked recursively). By default
prints the duplicated-line count per file (files with none are omitted) and
the total. With `--file F`, lists each maximal run of duplicated lines in F
with the runs elsewhere that repeat its windows.
"""
import argparse
import collections
import os
import re

WINDOW = 5
COMMENT = re.compile(r'^(//|/\*|\*)')


def sources(paths):
    for p in paths:
        if os.path.isdir(p):
            for d, _, fs in sorted(os.walk(p)):
                for f in sorted(fs):
                    if f.endswith('.scala'):
                        yield os.path.join(d, f)
        else:
            yield p


def code_lines(path):
    """(line number, normalized text) of every non-blank, non-comment line."""
    out = []
    with open(path, encoding='utf-8') as f:
        for n, raw in enumerate(f, 1):
            s = ' '.join(raw.split())
            if s and not COMMENT.match(s):
                out.append((n, s))
    return out


def scan(paths):
    """Per file, the code-line indices in duplicated windows; and per window,
    its sites as (file, first index)."""
    files = {p: code_lines(p) for p in sources(paths)}
    sites = collections.defaultdict(list)
    for p, ls in files.items():
        for k in range(len(ls) - WINDOW + 1):
            sites[tuple(s for _, s in ls[k:k + WINDOW])].append((p, k))
    dup = collections.defaultdict(set)
    for where in sites.values():
        if len(where) > 1:
            for p, k in where:
                dup[p].update(range(k, k + WINDOW))
    return files, sites, dup


def runs(indices):
    """Maximal runs of consecutive indices as (first, last)."""
    out = []
    for i in sorted(indices):
        if out and out[-1][1] == i - 1:
            out[-1][1] = i
        else:
            out.append([i, i])
    return out


def report_file(target, files, sites, dup):
    ls = files[target]
    for first, last in runs(dup.get(target, ())):
        others = collections.defaultdict(set)
        for k in range(max(first - WINDOW + 1, 0), last - WINDOW + 2):
            for p, j in sites[tuple(s for _, s in ls[k:k + WINDOW])]:
                if (p, j) != (target, k):
                    others[p].update(range(j, j + WINDOW))
        print(f'{target}:{ls[first][0]}-{ls[last][0]} '
              f'({last - first + 1} lines)')
        for p in sorted(others):
            for a, b in runs(others[p]):
                print(f'    also {p}:{files[p][a][0]}-{files[p][b][0]}')


def main():
    ap = argparse.ArgumentParser(description=__doc__.split('\n')[0])
    ap.add_argument('--file', help='list the duplicated runs of this file')
    ap.add_argument('paths', nargs='+')
    args = ap.parse_args()
    paths = list(args.paths)
    if args.file and not any(os.path.samefile(args.file, p)
                             for p in sources(paths)):
        paths.append(args.file)
    files, sites, dup = scan(paths)
    if args.file:
        target = next(p for p in files if os.path.samefile(p, args.file))
        report_file(target, files, sites, dup)
        return
    total = 0
    for p in files:
        if dup.get(p):
            print(f'{len(dup[p]):6d}  {p}')
            total += len(dup[p])
    print(f'{total:6d}  total')


if __name__ == '__main__':
    main()
