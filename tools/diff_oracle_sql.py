#!/usr/bin/env python3
"""Lists the catalog entries whose DuckDB oracle SQL differs between two
`graft.Verify` runs.

Usage: python3 tools/diff_oracle_sql.py <old oracle_sql.json> <new oracle_sql.json>

Whitespace is normalised (every run of whitespace becomes one space, ends
trimmed) before comparing, so re-indenting a builder changes nothing.
Prints one line per differing key: `CHANGED <name>`, `ONLY_OLD <name>` or
`ONLY_NEW <name>`, sorted by name, then a `SAME <n> CHANGED <n> ONLY_OLD
<n> ONLY_NEW <n>` summary. Exits 0 when nothing differs, 1 otherwise.
"""
import json
import re
import sys


def norm(sql: str) -> str:
    return re.sub(r"\s+", " ", sql).strip()


def main(old_path: str, new_path: str) -> int:
    old = json.load(open(old_path))
    new = json.load(open(new_path))
    lines, same, changed = [], 0, 0
    for name in sorted(old.keys() | new.keys()):
        if name not in new:
            lines.append(f"ONLY_OLD {name}")
        elif name not in old:
            lines.append(f"ONLY_NEW {name}")
        elif norm(old[name]) != norm(new[name]):
            lines.append(f"CHANGED {name}")
            changed += 1
        else:
            same += 1
    for line in lines:
        print(line)
    only_old = sum(1 for k in old if k not in new)
    only_new = sum(1 for k in new if k not in old)
    print(f"SAME {same} CHANGED {changed} ONLY_OLD {only_old} ONLY_NEW {only_new}")
    return 1 if lines else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
