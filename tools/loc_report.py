#!/usr/bin/env python3
"""Non-blank, non-comment Scala lines per package, for src/main and src/test.

Usage: python3 tools/loc_report.py [repo_root]
A line counts when any code remains after removing // and /* */ comments.
"""
import os
import re
import sys
from collections import Counter

# string and char literals are matched first so a "//" inside one is kept
TOKEN = re.compile(r'"""[\s\S]*?"""|"(?:\\.|[^"\\\n])*"|'
                   r"'(?:\\.|[^'\\\n])'|/\*[\s\S]*?\*/|//[^\n]*")


def code_lines(path):
    with open(path, encoding='utf-8') as f:
        text = TOKEN.sub(lambda m: m.group(0) if m.group(0)[0] in '"\'' else
                         '\n' * m.group(0).count('\n'), f.read())
    return sum(1 for line in text.splitlines() if line.strip())


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(os.path.dirname(__file__), '..')
    for tree in ('main', 'test'):
        base = os.path.join(root, 'src', tree, 'scala')
        counts = Counter()
        for d, _, files in os.walk(base):
            pkg = os.path.relpath(d, base).replace(os.sep, '.')
            for name in files:
                if name.endswith('.scala'):
                    counts[pkg] += code_lines(os.path.join(d, name))
        print(f'src/{tree}: {sum(counts.values())} lines')
        for pkg in sorted(counts):
            print(f'  {pkg:<28} {counts[pkg]:>6}')


if __name__ == '__main__':
    main()
