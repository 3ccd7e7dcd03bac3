#!/usr/bin/env python3
"""Print every main-code top-level object, class or trait that no entry
point reaches.

Usage: python3 scripts/unreached.py [repo_root]

A definition is reached when some code path leads to it from an entry
point. The entry points are:
  - graft.app.Main, graft.SparkEntry (the query registry), graft.Bench,
    graft.Verify, graft.EntrySmoke, graft.PlanDump and everything under
    graft/tools/;
  - the names perfbench/ uses (identifiers in its Scala sources,
    `graft.…` names in its Python and sbt files);
  - classes loaded by name: META-INF/services entries, and every
    implementation of a type that a Spark conf names (see BY_NAME).

A class and its companion object are one definition. A reference is an
identifier in code: comments and Scaladoc [[links]] do not count,
string literals do (a conf value names a class). Names resolve by
simple name, so two definitions that share one are both reached by it.
An import at the top of a file counts for every definition in the file,
because it may bring in implicits (`import Lineage.CutOps`) that no
identifier names. Both choices err towards "reached".

Each line: the qualified name, its file, and the test files that name
it (the specs that would go with it).
"""
import os
import re
import sys

ENTRY_POINTS = ["graft.app.Main", "graft.SparkEntry", "graft.Bench",
                "graft.Verify", "graft.EntrySmoke", "graft.PlanDump"]
ENTRY_DIRS = ["src/main/scala/graft/tools"]
# Types whose implementations are instantiated from a class name held in
# a Spark conf (`EventLog.loadFsImpl`).
BY_NAME = {"GelFs": "spark.graft.eventlog.fs.impl"}

IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
DEF = re.compile(
    r"^\s*(?:(?:private(?:\[\w+\])?|protected(?:\[\w+\])?|final|sealed|"
    r"abstract|case|implicit|lazy|open)\s+)*(object|class|trait)\s+(\w+)")
PACKAGE = re.compile(r"^\s*package\s+([\w.]+)\s*$")
SUPER = re.compile(r"\b(?:extends|with)\s+([A-Z]\w*)")


def strip_comments(src):
    """`src` with every comment blanked (newlines kept), strings kept."""
    out, i, n = [], 0, len(src)
    while i < n:
        c = src[i]
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            i = j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append(re.sub(r"[^\n]", " ", src[i:j]))
            i = j
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':
                j += 1
            out.append(src[i:j])
            i = j
        elif c == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1])
            i = j + 1
        elif c == "'" and i + 2 < n and (src[i + 2] == "'" or src[i + 1] == "\\"):
            j = src.find("'", i + 2 if src[i + 1] == "\\" else i + 1)
            out.append(src[i:j + 1])
            i = j + 1
        else:
            out.append(c)
            i += 1
    return "".join(out)


def unquoted(code):
    """`code` with string and char literals blanked (for brace depth)."""
    return re.sub(r'"""[\s\S]*?"""|"(?:\\.|[^"\\\n])*"|\'(?:\\.|[^\'\\])\'',
                  lambda m: re.sub(r"[^\n]", " ", m.group(0)), code)


def scala_files(root):
    for d, _, fs in os.walk(root):
        for f in fs:
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def parse(path):
    """Top-level definitions of one file: [(qname, kind, header, tokens)]."""
    code = strip_comments(open(path, encoding="utf-8").read())
    bare = unquoted(code).split("\n")
    lines = code.split("\n")
    pkg, starts, depth = [], [], 0
    for no, line in enumerate(bare):
        m = PACKAGE.match(line)
        if m and depth == 0:
            pkg.append(m.group(1))
        m = DEF.match(line)
        if m and depth == 0:
            starts.append((no, m.group(1), m.group(2)))
        depth += line.count("{") - line.count("}")
    imports = set(IDENT.findall("\n".join(lines[:starts[0][0] if starts else 0])))
    defs = []
    for i, (no, kind, name) in enumerate(starts):
        end = starts[i + 1][0] if i + 1 < len(starts) else len(lines)
        body = "\n".join(lines[no:end])
        header = body.split("{", 1)[0]
        defs.append((".".join(pkg + [name]), kind, header,
                     imports | set(IDENT.findall(body))))
    return defs


def main():
    root = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else
                           os.path.join(os.path.dirname(__file__), ".."))
    main_dir = os.path.join(root, "src/main/scala")
    nodes = {}   # qname -> {kinds, file, supers, tokens}
    for path in sorted(scala_files(main_dir)):
        rel = os.path.relpath(path, root)
        for qname, kind, header, tokens in parse(path):
            node = nodes.setdefault(qname, {"kinds": [], "file": rel,
                                            "supers": set(), "tokens": set()})
            node["kinds"].append(kind)
            node["supers"] |= set(SUPER.findall(header))
            node["tokens"] |= tokens
    by_simple = {}
    for qname in nodes:
        by_simple.setdefault(qname.rsplit(".", 1)[-1], set()).add(qname)

    roots = {q for q in ENTRY_POINTS if q in nodes}
    roots |= {q for q, n in nodes.items()
              if any(n["file"].startswith(d + "/") for d in ENTRY_DIRS)}
    bench = os.path.join(root, "perfbench")
    for d, _, fs in os.walk(bench):
        for f in fs:
            p = os.path.join(d, f)
            if f.endswith(".scala"):
                toks = IDENT.findall(strip_comments(open(p, encoding="utf-8").read()))
            elif f.endswith((".py", ".sbt")):
                toks = [m.rsplit(".", 1)[-1] for m in
                        re.findall(r"\bgraft(?:\.\w+)+", open(p, encoding="utf-8").read())]
            else:
                continue
            for t in toks:
                roots |= by_simple.get(t, set())
    services = os.path.join(root, "src/main/resources/META-INF/services")
    if os.path.isdir(services):
        for f in os.listdir(services):
            for line in open(os.path.join(services, f), encoding="utf-8"):
                name = line.split("#", 1)[0].strip()
                if name in nodes:
                    roots.add(name)
    loaded = set(BY_NAME)
    while True:
        subs = {q.rsplit(".", 1)[-1] for q, n in nodes.items()
                if n["supers"] & loaded}
        if subs <= loaded:
            break
        loaded |= subs
    roots |= {q for q, n in nodes.items() if n["supers"] & loaded}

    reached, todo = set(roots), list(roots)
    while todo:
        node = nodes[todo.pop()]
        for t in node["tokens"]:
            for q in by_simple.get(t, ()):
                if q not in reached:
                    reached.add(q)
                    todo.append(q)

    specs = {}
    test_dir = os.path.join(root, "src/test/scala")
    for path in sorted(scala_files(test_dir)):
        toks = set(IDENT.findall(strip_comments(open(path, encoding="utf-8").read())))
        for t in toks & by_simple.keys():
            specs.setdefault(t, []).append(os.path.splitext(os.path.basename(path))[0])

    unreached = sorted(q for q in nodes if q not in reached)
    for q in unreached:
        n = nodes[q]
        users = specs.get(q.rsplit(".", 1)[-1], [])
        print(f"{q}\t{'/'.join(n['kinds'])}\t{n['file']}\t"
              f"tests: {', '.join(users) if users else '-'}")
    print(f"# {len(unreached)} of {len(nodes)} top-level definitions unreached",
          file=sys.stderr)


if __name__ == "__main__":
    main()
