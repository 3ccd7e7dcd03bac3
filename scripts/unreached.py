#!/usr/bin/env python3
"""Print the main code that no entry point reaches: every top-level
object, class or trait (top-level mode), and every member of a reached
object that no reached code names (member mode).

Usage: python3 scripts/unreached.py [repo_root]

Exits 1 when either mode prints a definition that is not in KEEP and
that no KEEP entry names either, or when a KEEP entry names no
definition at all (printed as `stale keep`: its code is gone).

A definition is reached when some code path leads to it from an entry
point. The entry points are:
  - graft.app.Main, graft.SparkEntry (the query registry), graft.Bench,
    graft.Verify, graft.EntrySmoke, graft.PlanDump and everything under
    graft/tools/;
  - the code in perfbench/ (its Scala sources, and `graft.…` names in
    its Python and sbt files);
  - classes loaded by name: META-INF/services entries, and every
    implementation of a type that a Spark conf names (see BY_NAME).

The code is cut into spans. A class or trait is one span. An object is
one span per direct member, plus one for everything else in its body
(its initialiser, which runs whenever the object is reached). A
reached span reaches:
  - every top-level definition whose simple name it holds as an
    identifier. A class and its companion object are one definition.
    Comments and Scaladoc [[links]] do not count, string literals do (a
    conf value names a class). An import at the top of a file counts for
    every definition in the file, because it may bring in implicits
    (`import Lineage.CutOps`) that no identifier names;
  - member `m` of object `O` when it holds `O.m` (also across a line
    break, `O\\n  .m`, and through an alias: `val T = graft.x.O`,
    `import graft.x.{O => T}`); or an unqualified `m` inside `O`'s own
    body (outside `m`'s own span), or in a file that imports `O._` or
    `O.m`. Words in perfbench's string literals name any member.
Members that something else calls are always reached: overrides,
implicits, `apply`/`unapply`/`main`, operators, and every member of an
object that extends a type. Names resolve by simple name, so two
definitions that share one are both reached by it. Every choice errs
towards "reached". KEEP entries stay compiled, so what they alone
name stays too; it is printed, marked as named only by kept code.

Each line: the qualified name, its kind, its file (and line, for a
member), the test files that name it (the specs that would go with it)
and, for a KEEP entry, why it stays.
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

# Definitions that no entry point reaches and that stay, with the reason.
KEEP = {
    "graft.sources.SyntheticProducer":
        "test fixture: feeds the Kafka-shaped specs",
    "graft.sources.ProduceSynthetic":
        "command-line wrapper of the SyntheticProducer fixture",
    "graft.sources.v2.EventLog.withFs":
        "spec hook: runs a block on a swapped filesystem",
    "graft.sources.v2.EventLog.fs_=":
        "spec hook: installs a filesystem (withFs restores through it)",
    "graft.sources.v2.EventLog.isManifestFile":
        "spec hook: tells manifest files from data files in store-shape "
        "assertions",
    "graft.functions.VectorFunctions.cosine":
        "reference implementation: specs compare the native "
        "graft_cosine against it",
    "graft.functions.VectorFunctions.sqDist":
        "reference implementation: specs compare the native "
        "graft_sqdist against it",
    "graft.operators.KCore.kcore":
        "reference implementation: the convergent peel KCoreSpec "
        "compares kcoreRounds against",
    "graft.queries.Mining.q183Preflight":
        "spec hook: q183's pre-flight alone, on the query's own prefix "
        "table (MiningSpec)",
}

IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
MODS = (r"(?:(?:@\w+(?:\([^)]*\))?|private(?:\[\w+\])?|protected(?:\[\w+\])?|"
        r"final|sealed|abstract|case|implicit|lazy|override|open)\s+)*")
DEF = re.compile(r"^\s*" + MODS + r"(object|class|trait)\s+(\w+)")
MEMBER = re.compile(r"^(\s*)(" + MODS + r")(def|val|var|object|class|trait|type)"
                    r"\s+([A-Za-z_]\w*(?:(?<=_)=)?|[^\s\w(\[:]+)")
PACKAGE = re.compile(r"^\s*package\s+([\w.]+)\s*$")
SUPER = re.compile(r"\b(?:extends|with)\s+([A-Z]\w*)")
QUALIFIED = re.compile(r"(?=\b([A-Za-z_]\w*)\s*\.\s*([A-Za-z_]\w*)(\s*=(?![=>]))?)")
UNQUALIFIED = re.compile(r"(?<![\w.])(?<!\.\s)([A-Za-z_]\w*)(\s*=(?![=>]))?")
IMPORT = re.compile(r"\bimport\s+([\w.]+)\.(_|\{[^}]*\}|\w+)")
ALIAS = re.compile(r"\bval\s+(\w+)\s*=\s*(?:[\w.]*\.)?([A-Z]\w*)\s*$", re.M)
STRING = re.compile(r'"(?:\\.|[^"\\\n])*"')
# Called by the language or a framework, never by name.
IMPLICIT_NAMES = {"apply", "unapply", "unapplySeq", "update", "main",
                  "toString", "equals", "hashCode", "readResolve"}
CONTINUATION = re.compile(r"^(?:[.)}\]|&+\-*/=,:]|with\b|extends\b|else\b|"
                          r"catch\b|finally\b|yield\b|match\b)")


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


class Ctx:
    """What a file's imports and aliases bring into scope."""

    def __init__(self, code):
        self.aliases = {}     # alias -> simple name of an object
        self.wildcard = set()  # objects whose members are all imported
        self.named = set()     # (object, member) imported by name
        for path, sel in IMPORT.findall(code):
            last = path.rsplit(".", 1)[-1]
            if sel == "_":
                self.wildcard.add(last)
            elif sel.startswith("{"):
                for part in sel[1:-1].split(","):
                    bits = [b.strip() for b in part.split("=>")]
                    if bits[0] == "_" and len(bits) == 1:
                        self.wildcard.add(last)
                    elif len(bits) == 2 and bits[1] != "_":
                        self.aliases[bits[1]] = bits[0]
                        self.named.add((last, bits[0]))
                    else:
                        self.named.add((last, bits[0]))
            else:
                self.named.add((last, sel))
        for alias, target in ALIAS.findall(code):
            self.aliases[alias] = target


class Span:
    """The lines of a top-level definition, of one member of an object
    (`member` set), or of the rest of an object's body."""

    def __init__(self, top, file, lines, member=None, kind=None, mods="", line=0):
        self.top, self.file, self.lines = top, file, lines
        self.member, self.kind, self.mods, self.line = member, kind, mods, line

    @property
    def text(self):
        return "\n".join(self.lines)


def parse(path, rel):
    """Spans and top-level definitions of one main-code file."""
    code = strip_comments(open(path, encoding="utf-8").read())
    bare = unquoted(code).split("\n")
    lines = code.split("\n")
    pkg, starts, depth, depths = [], [], 0, []
    for no, line in enumerate(bare):
        depths.append(depth)
        m = PACKAGE.match(line)
        if m and depth == 0:
            pkg.append(m.group(1))
        m = DEF.match(line)
        if m and depth == 0:
            starts.append((no, m.group(1), m.group(2)))
        depth += line.count("{") - line.count("}")
    imports = "\n".join(lines[:starts[0][0] if starts else 0])
    defs, spans = [], []
    for i, (no, kind, name) in enumerate(starts):
        end = starts[i + 1][0] if i + 1 < len(starts) else len(lines)
        qname = ".".join(pkg + [name])
        header = "\n".join(lines[no:end]).split("{", 1)[0]
        defs.append((qname, kind, header))
        judged = kind == "object" and not SUPER.search(header)
        if not judged:
            spans.append(Span(qname, rel, [imports] + lines[no:end]))
            continue
        # A member runs from its declaration to the next line of the
        # object's body that is indented no deeper and continues nothing.
        init = Span(qname, rel, [imports, lines[no]])
        cur, indent = None, None
        for k in range(no + 1, end):
            line, stripped = lines[k], lines[k].strip()
            if depths[k] != 1 or not stripped:
                (cur or init).lines.append(line)
                continue
            ind = len(line) - len(line.lstrip())
            m = MEMBER.match(bare[k])
            if cur and (ind > indent or CONTINUATION.match(stripped)):
                cur.lines.append(line)
            elif m:
                cur, indent = Span(qname, rel, [line], m.group(4), m.group(3),
                                   m.group(2), k + 1), ind
                spans.append(cur)
            else:
                cur = None
                init.lines.append(line)
        spans.append(init)
    return defs, spans, Ctx(code)


def always_reached(span):
    m = span.member
    return (not re.match(r"[A-Za-z_]", m) or m in IMPLICIT_NAMES
            or re.search(r"\b(?:override|implicit)\b", span.mods))


def main():
    root = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else
                           os.path.join(os.path.dirname(__file__), ".."))
    main_dir = os.path.join(root, "src/main/scala")
    nodes = {}   # qname -> {kinds, file, supers}
    spans, ctxs = [], {}
    for path in sorted(scala_files(main_dir)):
        rel = os.path.relpath(path, root)
        defs, file_spans, ctxs[rel] = parse(path, rel)
        for qname, kind, header in defs:
            node = nodes.setdefault(qname, {"kinds": [], "file": rel, "supers": set()})
            node["kinds"].append(kind)
            node["supers"] |= set(SUPER.findall(header))
        spans += file_spans
    by_simple = {}
    for qname in nodes:
        by_simple.setdefault(qname.rsplit(".", 1)[-1], set()).add(qname)
    members = {}  # (owner qname, member) -> [spans]
    for s in spans:
        if s.member:
            members.setdefault((s.top, s.member), []).append(s)
    by_owner = {}
    for owner, m in members:
        by_owner.setdefault(owner, set()).add(m)

    reached, live, todo = set(), set(), []

    def reach_member(owner, m):
        if (owner, m) not in live and (owner, m) in members:
            live.add((owner, m))
            if owner in reached:
                todo.extend(members[(owner, m)])

    def reach_top(q):
        if q in reached:
            return
        reached.add(q)
        todo.extend(s for s in spans
                    if s.top == q and (not s.member or (q, s.member) in live))

    def owners(simple, ctx):
        simple = ctx.aliases.get(simple, simple) if ctx else simple
        return by_simple.get(simple, ())

    def scan(text, ctx, own=None, self_member=None):
        """Reach what one span of live code names."""
        for t in set(IDENT.findall(text)):
            for q in by_simple.get(t, ()):
                reach_top(q)
        # `m = …` names the setter `m_=`, and `m` in case it is a type.
        for x, m, assign in set(QUALIFIED.findall(text)):
            for q in owners(x, ctx):
                reach_member(q, m)
                if assign:
                    reach_member(q, m + "_=")
        words = set()
        for m, assign in UNQUALIFIED.findall(text):
            words |= {m, m + "_="} if assign else {m}
        scope = set()
        if own:
            scope.add(own)
        if ctx:
            for o in ctx.wildcard:
                scope |= set(owners(o, None))
            for o, m in ctx.named:
                if m in words:
                    for q in owners(o, None):
                        reach_member(q, m)
        for q in scope:
            for m in by_owner.get(q, set()) & words:
                if not (q == own and m == self_member):
                    reach_member(q, m)

    # Members no name calls, and kept definitions whole: reached with
    # their owner.
    for s in spans:
        if s.member and (always_reached(s) or s.top in KEEP):
            live.add((s.top, s.member))

    roots = {q for q in ENTRY_POINTS if q in nodes}
    roots |= {q for q, n in nodes.items()
              if any(n["file"].startswith(d + "/") for d in ENTRY_DIRS)}
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
    for q in roots:
        reach_top(q)

    bench = os.path.join(root, "perfbench")
    for d, _, fs in os.walk(bench):
        if "target" in d.split(os.sep):
            continue
        for f in fs:
            p = os.path.join(d, f)
            if f.endswith(".scala"):
                code = strip_comments(open(p, encoding="utf-8").read())
                scan(code, Ctx(code))
                for lit in STRING.findall(code):
                    for w in IDENT.findall(lit):
                        for q in by_owner:
                            reach_member(q, w)
            elif f.endswith((".py", ".sbt")):
                for name in re.findall(r"\bgraft(?:\.\w+)+",
                                       open(p, encoding="utf-8").read()):
                    scan(name, None)

    def drain():
        while todo:
            s = todo.pop()
            scan(s.text, ctxs[s.file], s.top, s.member)

    drain()
    reached_from_entries, live_from_entries = set(reached), set(live)
    # Kept definitions stay compiled, so what they name stays too.
    for name in KEEP:
        if name in nodes:
            reach_top(name)
        else:
            reach_member(*name.rsplit(".", 1))
    drain()

    specs = {}
    test_dir = os.path.join(root, "src/test/scala")
    for path in sorted(scala_files(test_dir)):
        toks = set(IDENT.findall(strip_comments(open(path, encoding="utf-8").read())))
        for t in toks:
            specs.setdefault(t, set()).add(os.path.splitext(os.path.basename(path))[0])

    def tests(owner, m=None):
        users = specs.get(owner.rsplit(".", 1)[-1], set())
        if m:
            users = users & specs.get(m[:-2] if m.endswith("_=") else m, set())
        return ", ".join(sorted(users)) or "-"

    def keep(name, kept):
        if name in KEEP:
            return f"\tkeep: {KEEP[name]}"
        return "\tkeep: only kept code names it" if kept else ""

    unreached = sorted(q for q in nodes if q not in reached_from_entries)
    for q in unreached:
        n = nodes[q]
        print(f"{q}\t{'/'.join(n['kinds'])}\t{n['file']}\ttests: {tests(q)}"
              f"{keep(q, q in reached)}")
    dead = sorted(k for k in members
                  if k[0] in reached_from_entries and k not in live_from_entries)
    for owner, m in dead:
        s = members[(owner, m)][0]
        name = f"{owner}.{m}"
        print(f"{name}\t{s.kind}\t{s.file}:{s.line}\ttests: {tests(owner, m)}"
              f"{keep(name, (owner, m) in live)}")
    stale = [n for n in KEEP
             if n not in nodes and tuple(n.rsplit(".", 1)) not in members]
    for name in stale:
        print(f"{name}\tstale keep\tkeep: {KEEP[name]}")
    print(f"# {len(unreached)} of {len(nodes)} top-level definitions unreached, "
          f"{len(dead)} of {sum(1 for k in members if k[0] in reached_from_entries)} "
          f"members of reached objects unnamed", file=sys.stderr)
    stray = [q for q in unreached if q not in KEEP and q not in reached] + \
            [f"{o}.{m}" for o, m in dead if f"{o}.{m}" not in KEEP and (o, m) not in live]
    sys.exit(1 if stray or stale else 0)


if __name__ == "__main__":
    main()
