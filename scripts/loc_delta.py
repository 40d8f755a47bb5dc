#!/usr/bin/env python3
"""Lines added and removed under src/main and src/test, by kind.

    python3 scripts/loc_delta.py <base-rev>

Compares <base-rev> with the working tree (untracked files count as
added). For each changed file it prints the lines added and removed,
split into code, comment (lines starting `//`, `/*` or a `*`
continuation) and blank; then the totals of src/main, src/test and
both.
"""
import subprocess
import sys
from collections import defaultdict

TREES = ("src/main", "src/test")
KINDS = ("code", "comment", "blank")


def kind(line: str) -> str:
    s = line.strip()
    if not s:
        return "blank"
    if s.startswith(("//", "/*", "*")):
        return "comment"
    return "code"


def git(*args: str) -> str:
    return subprocess.run(["git", *args], check=True, stdout=subprocess.PIPE,
                          text=True).stdout


def deltas(base: str) -> dict:
    """file -> {(kind, '+'|'-'): lines}"""
    out = defaultdict(lambda: defaultdict(int))
    path, header = None, False
    for line in git("diff", "--text", "-U0", base, "--", *TREES).splitlines():
        if line.startswith("diff --git "):
            # the new name; a deleted file keeps its old one here
            path, header = line.split(" b/", 1)[1], True
        elif line.startswith("@@"):
            header = False
        elif not header and line[:1] in "+-":
            out[path][(kind(line[1:]), line[0])] += 1
    for path in git("ls-files", "--others", "--exclude-standard", "--",
                    *TREES).splitlines():
        with open(path, encoding="utf-8", errors="replace") as f:
            for line in f:
                out[path][(kind(line), "+")] += 1
    return out


def row(name: str, d: dict) -> str:
    cells = " | ".join(f"+{d[(k, '+')]} / -{d[(k, '-')]}" for k in KINDS)
    return f"| {name} | {cells} |"


def main() -> int:
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    per_file = deltas(sys.argv[1])
    print("| file | code | comment | blank |")
    print("|---|---|---|---|")
    for path in sorted(per_file):
        print(row(path, per_file[path]))
    totals = {t: defaultdict(int) for t in (*TREES, "total")}
    for path, d in per_file.items():
        tree = next(t for t in TREES if path.startswith(t + "/"))
        for key, n in d.items():
            totals[tree][key] += n
            totals["total"][key] += n
    for name, d in totals.items():
        print(row(f"**{name}**", d))
    return 0


if __name__ == "__main__":
    sys.exit(main())
