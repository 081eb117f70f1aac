#!/usr/bin/env python3
"""List the src/main definitions that nothing reaches from the program's roots.

Roots: `SparkEntry.queries` and `SparkEntry.oracleSql` (the registry and its
oracle), `Graft.all` (the SQL functions) and the `main` of `Bench`, `Verify`
and `PlanDump`. A definition is a `def`/`val`/`var`/`object`/`class`/`trait`
at the top level of a file or one level inside a top-level object or class;
its body runs to the next such definition. A definition is reached when its
name occurs in the body of a reached one, so reachability is by name:
 - `Owner.name`, where Owner is a top-level object or class, reaches the
   members called `name` of every owner with that name;
 - a bare `name` reaches the top-level definitions called `name`, the members
   of the referring definition's own owner, and the members of owners its
   file imports;
 - any other `x.name` (a value, a package) reaches every definition called
   `name`.
A name shared by two definitions reaches both, so the report errs towards
calling code reached. `override` members and `apply` are reached with their
owner; an import alias (`{A => B}`) reaches what A names.

Comment lines (starting with `//`, `/*` or `*`) and `//` tails outside a
string are skipped. Block comments are not stripped as such, because a `/*`
inside an SQL string would swallow the code after it.

The report is advisory and never fails: it always exits 0.

Usage: python3 tools/unreached.py [SRC_MAIN_DIR]   (default: src/main/scala)
"""
import os
import re
import sys

ROOTS = [("SparkEntry", "queries"), ("SparkEntry", "oracleSql"), ("Graft", "all"),
         ("Bench", "main"), ("Verify", "main"), ("PlanDump", "main")]
WITH_OWNER = {"apply", "unapply", "unapplySeq"}

DEF_RE = re.compile(
    r"^( *)((?:@\w+\s+|(?:private|protected)(?:\[\w+\])?\s+|final\s+|sealed\s+|abstract\s+|"
    r"implicit\s+|lazy\s+|override\s+|case\s+)*)(def|val|var|object|class|trait)\s+"
    r"([A-Za-z_][A-Za-z0-9_]*)")
TOKEN_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
DOT_RE = re.compile(r"\s*\.\s*")
ALIAS_RE = re.compile(r"([A-Za-z_][A-Za-z0-9_]*)\s*=>\s*([A-Za-z_][A-Za-z0-9_]*)")


def code_of(line):
    """The line without a `//` comment tail that lies outside a string."""
    s = line.strip()
    if s.startswith("//") or s.startswith("/*") or s.startswith("*"):
        return ""
    in_str = False
    i = 0
    while i < len(line) - 1:
        c = line[i]
        if c == "\\" and in_str:
            i += 2
            continue
        if c == '"':
            in_str = not in_str
        elif not in_str and line.startswith("//", i):
            return line[:i]
        i += 1
    return line


class Unit:
    def __init__(self, path, lineno, owner, name, indent, override):
        self.path, self.lineno, self.owner, self.name = path, lineno, owner, name
        self.indent, self.override = indent, override
        self.body = []

    def label(self):
        return self.name if self.owner is None else f"{self.owner}.{self.name}"


def parse(root):
    units, aliases, imports = [], {}, {}
    for d, _, files in os.walk(root):
        for f in sorted(files):
            if not f.endswith(".scala"):
                continue
            path = os.path.join(d, f)
            owner, cur = None, None
            with open(path, encoding="utf-8") as fh:
                for n, raw in enumerate(fh, 1):
                    line = code_of(raw.rstrip("\n"))
                    if line.lstrip().startswith("import "):
                        for orig, alias in ALIAS_RE.findall(line):
                            aliases.setdefault(alias, set()).add(orig)
                        imports.setdefault(path, set()).update(TOKEN_RE.findall(line))
                        continue
                    m = DEF_RE.match(line)
                    if m and len(m.group(1)) in (0, 2) and not (len(m.group(1)) == 2 and owner is None):
                        indent = len(m.group(1))
                        if indent == 0:
                            owner = None
                        cur = Unit(path, n, owner, m.group(4), indent, "override" in m.group(2))
                        units.append(cur)
                        if indent == 0:
                            owner = m.group(4)
                        cur.body.append(line[m.end():])
                    elif cur is not None:
                        cur.body.append(line)
    return units, aliases, imports


def refs(text):
    """(qualifier or None, name) for every identifier in `text`."""
    out, prev = set(), None
    for m in TOKEN_RE.finditer(text):
        dotted = prev is not None and DOT_RE.fullmatch(text[prev.end():m.start()])
        out.add((prev.group(0) if dotted else None, m.group(0)))
        prev = m
    return out


def report(root):
    units, aliases, imports = parse(root)
    by_name, members = {}, {}
    for u in units:
        by_name.setdefault(u.name, []).append(u)
        if u.owner is not None:
            members.setdefault((u.path, u.owner), []).append(u)
    owners = {u.name for u in units if u.indent == 0}

    def named(name, u_from, qualifier):
        """The definitions a reference reaches. Members that come with their
        owner are never reached by name, so they cannot reach their owner."""
        if qualifier is None:
            scope = imports.get(u_from.path, set()) | {u_from.owner, u_from.name}
        else:
            quals = {qualifier} | aliases.get(qualifier, set())
            scope = quals if quals & owners else None  # None: a value or a package
        return [v for n in {name} | aliases.get(name, set()) for v in by_name.get(n, [])
                if not (v.override or v.name in WITH_OWNER)
                and (scope is None or v.owner is None or v.owner in scope)]

    reached, work = set(), []

    def reach(u):
        if id(u) not in reached:
            reached.add(id(u))
            work.append(u)

    for owner, name in ROOTS:
        for u in by_name.get(name, []):
            if u.owner == owner:
                reach(u)
    while work:
        u = work.pop()
        if u.owner is not None:
            for o in by_name.get(u.owner, []):
                if o.path == u.path and o.indent == 0:
                    reach(o)
        else:
            for m in members.get((u.path, u.name), []):
                if m.override or m.name in WITH_OWNER:
                    reach(m)
        for qualifier, name in refs("\n".join(u.body)):
            for v in named(name, u, qualifier):
                reach(v)

    # a member of an unreached owner is counted in its owner's entry
    dead_owners = {(u.path, u.name) for u in units if u.indent == 0 and id(u) not in reached}
    lines = {}
    for u in units:
        if id(u) in reached:
            continue
        own = (u.path, u.name if u.indent == 0 else u.owner)
        key = own if own in dead_owners else (u.path, u.lineno)
        entry = lines.setdefault(key, [u, 0])
        entry[1] += sum(1 for b in u.body if b.strip()) + 1
    total = 0
    for u, n in sorted(lines.values(), key=lambda e: (e[0].path, e[0].lineno)):
        total += n
        print(f"{os.path.relpath(u.path)}:{u.lineno}\t{u.label()}\t{n}")
    print(f"# {len(lines)} unreached definitions, {total} non-blank code lines")


if __name__ == "__main__":
    try:
        report(sys.argv[1] if len(sys.argv) > 1 else "src/main/scala")
    except Exception as e:  # advisory: never fail a build
        print(f"# unreached.py could not finish: {e}")
    sys.exit(0)
