#!/usr/bin/env python3
"""Name-based reachability scan over src/main.

Usage: python3 tools/reach.py [repoRoot]

Roots: the driver contract SparkEntry.{queries, oracleSql, entry} (the
declared-query registry), Pipeline.runAll, every `def main`, and the
test reference implementations (TEST_REFS: executable formulations the
specs compare the engine against). Each top-level object/class/trait
member (a line at two-space indent declaring def/val/var/object/class/
trait) is a node; its body runs to the next member. A body that
mentions an identifier reaches every member of that name in any file,
and every type of that name: a class or trait reached is reached whole
(the engine calls its overrides), an object reached reaches its eager
vals and its apply/unapply.

The scan over-approximates: names are not resolved, so two members that
share a name are reached together, and a bare local name (a `val` or
parameter inside a reached body) reaches every member of that name too;
comments are the only text left out. A member it reports unreached has
no caller by name from a root. Prints every object member, public or
private, and every top-level class or trait that no root reaches, one
per line (`path:line Owner.member`, `path:line Type`); then the test
reference implementations the other roots do not reach.
"""
import os
import re
import sys

ROOTS = [("SparkEntry", "queries"), ("SparkEntry", "oracleSql"),
         ("SparkEntry", "entry"), ("Pipeline", "runAll")]
# executable reference formulations the specs compare the engine against
TEST_REFS = re.compile(
    r"(Brute|Hof|ViaAgg)$|^(zValueRef|ngramJaccardPairs|scoreWith)$")

TYPE_RE = re.compile(
    r"^(?:(?:final|sealed|abstract|case|private(?:\[\w+\])?|implicit)\s+)*"
    r"(object|class|trait)\s+(\w+)")
MEMBER_RE = re.compile(
    r"^  (?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+|"
    r"implicit\s+|lazy\s+|case\s+|@\w+\s+)*"
    r"(def|val|var|object|class|trait)\s+([A-Za-z_]\w*)")
IDENT_RE = re.compile(r"[A-Za-z_]\w*")


def strip_comments(text):
    """Blank out // and /* */ comments, leaving strings (interpolated
    code lives there) and line numbers intact."""
    out, i, n = [], 0, len(text)
    in_str = None
    while i < n:
        c = text[i]
        if in_str:
            if text.startswith(in_str, i):
                out.append(in_str)
                i += len(in_str)
                in_str = None
            else:
                out.append(c)
                i += 1
        elif text.startswith('"""', i):
            in_str = '"""'
            out.append(in_str)
            i += 3
        elif c == '"':
            in_str = '"'
            out.append(c)
            i += 1
        elif text.startswith("//", i):
            j = text.find("\n", i)
            j = n if j < 0 else j
            i = j
        elif text.startswith("/*", i):
            j = text.find("*/", i + 2)
            j = n if j < 0 else j + 2
            out.append("".join(ch for ch in text[i:j] if ch == "\n"))
            i = j
        else:
            out.append(c)
            i += 1
    return "".join(out)


def parse(root):
    """-> members: list of dicts, types: name -> list of type dicts."""
    members, types = [], {}
    for d, _, files in os.walk(os.path.join(root, "src", "main")):
        for f in sorted(files):
            if not f.endswith(".scala"):
                continue
            path = os.path.join(d, f)
            lines = strip_comments(open(path, encoding="utf-8").read()) \
                .split("\n")
            cur = None
            for no, line in enumerate(lines, 1):
                m = TYPE_RE.match(line)
                if m:
                    cur = {"kind": m.group(1), "name": m.group(2),
                           "path": os.path.relpath(path, root),
                           "line": no,
                           "header": [line], "members": []}
                    types.setdefault(cur["name"], []).append(cur)
                    continue
                if cur is None:
                    continue
                mm = MEMBER_RE.match(line)
                if mm:
                    mods = line[:mm.start(1)]
                    mem = {"owner": cur, "kind": mm.group(1),
                           "name": mm.group(2), "line": no,
                           "lazy": "lazy" in mods, "body": [line]}
                    cur["members"].append(mem)
                    members.append(mem)
                elif cur["members"]:
                    cur["members"][-1]["body"].append(line)
                else:
                    cur["header"].append(line)
    return members, types


def scan(root):
    """-> (unreached members and types, test references the other
    roots do not reach)."""
    members, types = parse(root)
    by_name = {}
    for m in members:
        by_name.setdefault(m["name"], []).append(m)
    refs = [m for m in members if TEST_REFS.search(m["name"])]

    reached, seen_types, work = set(), set(), []

    def reach_member(m):
        if id(m) not in reached:
            reached.add(id(m))
            work.append(" ".join(m["body"]))

    def reach_type(t):
        if id(t) in seen_types:
            return
        seen_types.add(id(t))
        work.append(" ".join(t["header"]))
        for m in t["members"]:
            eager_val = m["kind"] in ("val", "var") and not m["lazy"]
            if t["kind"] != "object" or eager_val or \
                    m["name"] in ("apply", "unapply"):
                reach_member(m)

    def close():
        while work:
            for ident in set(IDENT_RE.findall(work.pop())):
                for m in by_name.get(ident, []):
                    reach_member(m)
                for t in types.get(ident, []):
                    reach_type(t)

    for t in types.get("SparkEntry", []) + types.get("Pipeline", []):
        reach_type(t)
    for owner, name in ROOTS:
        for m in by_name.get(name, []):
            if m["owner"]["name"] == owner:
                reach_member(m)
    for m in by_name.get("main", []):
        reach_member(m)
        reach_type(m["owner"])
    close()
    kept = [m for m in refs if id(m) not in reached]
    for m in kept:
        reach_member(m)
    close()

    unreached = [m for m in members
                 if id(m) not in reached and m["owner"]["kind"] == "object"]
    unreached += [t for ts in types.values() for t in ts
                  if t["kind"] != "object" and id(t) not in seen_types]
    key = lambda m: (m["path"] if "path" in m else m["owner"]["path"],
                     m["line"])
    return sorted(unreached, key=key), sorted(kept, key=key)


def fmt(m):
    if "owner" not in m:
        return "%s:%d %s" % (m["path"], m["line"], m["name"])
    return "%s:%d %s.%s" % (m["owner"]["path"], m["line"],
                            m["owner"]["name"], m["name"])


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "."
    unreached, kept = scan(root)
    print("# members and types no root reaches (%d)" % len(unreached))
    for m in unreached:
        print(fmt(m))
    print("# kept: test reference implementations (%d)" % len(kept))
    for m in kept:
        print(fmt(m))


if __name__ == "__main__":
    main()
