#!/usr/bin/env python3
"""Call-graph reachability over the compiled main classes.

Usage: python3 scripts/reachability.py [classesDir]   (default target/scala-2.13/classes)

Run `sbt clean compile` first: classes left behind by an earlier build of
deleted sources would otherwise count as live code.

Reads `javap -c -p -v` of every class under classesDir (-v adds the
constant pool and bootstrap table, which name the lambda bodies that
`invokedynamic` call sites create), builds a method-level call graph and
walks it from the roots:

- the mains in MAINS below;
- every method of SparkEntry, and Queries.all (the registry builders);
- every program method the benchmark harness names
  (perfbench/src/main/scala/perfbench/Harness.scala, read as text);
- KEEP below, one stated reason per entry.

The walk is conservative wherever dispatch is not visible in the
bytecode: a call reaches every override of the callee in the call's
class hierarchy; every method of an instantiated class that is not a
Scala object is reached (Spark, Scala and the JDK call their overrides);
an object that extends anything beyond Object/Serializable has every
method reached once it is loaded.

Prints the unreached top-level objects and classes, then the unreached
defs of the reached ones (Scala source names; synthetic and lambda
methods are not listed), then KEEP entries that name no def. Exits 1 if
it prints any of them.
"""
import os
import re
import subprocess
import sys
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HARNESS = os.path.join(REPO, "perfbench/src/main/scala/perfbench/Harness.scala")

MAINS = ["Bench", "Graft", "Profile", "ScaleSanity", "Verify"]

# (object, def): reason. The walk treats these as roots.
KEEP = {
    ("graft.Graft", "parsedWithMetrics"): "public library facade; the per-query profile wires its metrics",
    ("graft.ops.TextAnalysis", "bpeSegmentHof"): "reference implementation PropertiesSpec compares bpeSegment against",
    ("graft.ops.Dedup", "shingles"): "compositional reference DedupSpec compares MinHashSignature against",
    ("graft.ops.Dedup", "pigeonholeIndexStats"): "plain-index baseline DedupSpec bounds permutedIndexStats against",
    ("graft.sources.Sinks$Versioned", "versions"): "read side of the versioned table format; specs check live publishes through it",
    ("graft.sources.Sinks$Versioned", "readVersion"): "read side of the versioned table format; specs check live publishes through it",
    ("graft.sources.Sinks$Versioned", "metaOf"): "read side of the versioned table format; specs check live publishes through it",
}

# Compiler-generated members of a case class companion.
CASE_COMPANION = {"apply", "unapply", "writeReplace", "readResolve", "toString"}

# Supertypes whose methods need no override-root treatment on an object.
PLAIN = {"java/lang/Object", "java/io/Serializable", "scala/Serializable"}

INSN = re.compile(
    r"^\s+\d+: (invoke\w+|getstatic|putstatic|getfield|putfield|new|ldc\w*|"
    r"checkcast|instanceof|anewarray|multianewarray)\s+#\d+(?:,\s*\d+)?\s+"
    r"// (Method|InterfaceMethod|Field|class|InvokeDynamic|String) (.*)$")
REF = re.compile(r'^(?:([\w/$]+)\.)?("?[\w$<>]+"?):(\S+)')
HANDLE = re.compile(r"REF_\w+ ([\w/$]+)\.(\"?[\w$<>]+\"?):(\S+)")
DESC_CLASS = re.compile(r"L([\w/$]+);")


class Cls:
    def __init__(self, name):
        self.name = name
        self.supers = []
        self.methods = {}  # (name, desc) -> {"refs": [...], "indy": [...], "synthetic": bool}
        self.fields = set()
        self.bootstraps = {}  # idx -> [(cls, name, desc)]
        self.lambda_deser = set()  # bootstrap indices of LambdaDeserialize

    @property
    def is_module(self):
        return self.name.endswith("$") and "MODULE$" in self.fields


def strip_generics(s):
    prev = None
    while prev != s:
        prev, s = s, re.sub(r"<[^<>]*>", "", s)
    return s


def parse(text):
    classes = {}
    cur = meth = None
    section = None
    boot_idx = None
    for line in text.splitlines():
        if line.startswith("Classfile "):
            cur, meth, section = None, None, "header"
            continue
        if section == "header" and cur is None:
            m = re.search(r"\b(?:class|interface) ([\w.$]+)(.*)$", line)
            if m and not line.startswith(" "):
                cur = Cls(m.group(1).replace(".", "/"))
                classes[cur.name] = cur
                rest = strip_generics(m.group(2))
                for kw in ("extends", "implements"):
                    mm = re.search(kw + r" ([\w.$, ]+?)(?: implements|$)", rest)
                    if mm:
                        cur.supers += [s.strip().replace(".", "/")
                                       for s in mm.group(1).split(",") if s.strip()]
            continue
        if cur is None:
            continue
        if line == "{":
            section = "body"
            continue
        if line.startswith("BootstrapMethods:"):
            section = "boot"
            continue
        if section == "body":
            if line.startswith("  ") and not line.startswith("   ") and line.rstrip().endswith(";"):
                decl = line.strip()
                meth = {"decl": decl, "refs": [], "indy": [], "synthetic": False}
                continue
            if meth is not None and line.startswith("    descriptor: "):
                desc = line.split(": ", 1)[1].strip()
                decl = meth["decl"]
                if not desc.startswith("("):
                    name = decl.rstrip(";").split()[-1]
                    cur.fields.add(name)
                    meth = None
                    continue
                if decl.endswith("static {};"):
                    name = "<clinit>"
                else:
                    head = decl.split("(", 1)[0].split()
                    name = head[-1]
                    if name.replace(".", "/") == cur.name:
                        name = "<init>"
                cur.methods[(name, desc)] = meth
                meth["name"] = name
                continue
            if meth is not None and line.startswith("    flags: "):
                meth["synthetic"] = "ACC_SYNTHETIC" in line or "ACC_BRIDGE" in line
                continue
            m = INSN.match(line) if meth is not None else None
            if m:
                op, kind, rest = m.groups()
                if kind == "InvokeDynamic":
                    meth["indy"].append(int(rest.split(":", 1)[0].lstrip("#")))
                elif kind == "class":
                    c = rest.strip().strip('"').lstrip("[").rstrip(";")
                    if c.startswith("L"):
                        c = c[1:]
                    meth["refs"].append(("class", c, None, None))
                elif kind == "String":
                    meth["refs"].append(("string", rest.strip(), None, None))
                else:
                    r = REF.match(rest.strip())
                    if r:
                        owner = r.group(1) or cur.name
                        meth["refs"].append((kind, owner, r.group(2).strip('"'), r.group(3)))
            continue
        if section == "boot":
            m = re.match(r"^\s+(\d+): #\d+ (.*)$", line)
            if m:
                boot_idx = int(m.group(1))
                cur.bootstraps[boot_idx] = []
                if "LambdaDeserialize" in m.group(2):
                    cur.lambda_deser.add(boot_idx)
                continue
            h = HANDLE.search(line)
            if h and boot_idx is not None:
                cur.bootstraps[boot_idx].append((h.group(1), h.group(2).strip('"'), h.group(3)))
    return classes


def javap_all(root):
    files = []
    for d, _, fs in os.walk(root):
        files += [os.path.join(d, f) for f in fs if f.endswith(".class")]
    files.sort()
    out = []
    for i in range(0, len(files), 200):
        r = subprocess.run(["javap", "-c", "-p", "-v"] + files[i:i + 200],
                           capture_output=True, text=True, check=True)
        out.append(r.stdout)
    return parse("\n".join(out))


def top_level(cname):
    pkg, _, simple = cname.rpartition("/")
    return (pkg + "/" if pkg else "") + simple.split("$", 1)[0]


def source_name(mname):
    # private defs reached from lambdas or nested classes: pkg$Obj$$name
    return mname.rsplit("$$", 1)[-1] if "$$" in mname else mname


def listed(name, meth, generated):
    """Whether a method is a source-level def worth reporting: not
    compiler-generated (lambda bodies, bridges, default-argument getters,
    adapters, local defs nested in another def, constructors)."""
    return not (name in generated or meth["synthetic"] or name.startswith(("<", "$"))
                or re.search(r"\$\d+$", name) or "$anonfun$" in name or "$default$" in name
                or name.endswith(("$adapted", "$extension")))


def harness_roots():
    """(module class, method name) pairs the benchmark harness calls."""
    text = open(HARNESS).read()
    names = {}
    for m in re.finditer(r"^import (graft(?:\.\w+)*)\.(\{[^}]*\}|\w+)", text, re.M):
        for n in m.group(2).strip("{}").split(","):
            names[n.strip()] = m.group(1).replace(".", "/") + "/" + n.strip()
    roots = set()
    for m in re.finditer(r"\b(graft(?:\.\w+)+|\w+)\s*\.\s*(\w+)", text):
        obj, meth = m.groups()
        if obj.startswith("graft."):
            cls = obj.replace(".", "/")
        elif obj in names:
            cls = names[obj]
        else:
            continue
        roots.add((cls + "$", meth))
    return roots


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, "target/scala-2.13/classes")
    classes = javap_all(root)
    subs = defaultdict(set)
    for c in classes.values():
        for s in c.supers:
            subs[s].add(c.name)

    def descendants(cname):
        seen, todo = {cname}, [cname]
        while todo:
            for s in subs.get(todo.pop(), ()):
                if s not in seen:
                    seen.add(s)
                    todo.append(s)
        return seen

    def ancestors(cname):
        seen, todo = [], [cname]
        while todo:
            c = todo.pop(0)
            if c in classes and c not in seen:
                seen.append(c)
                todo += classes[c].supers
        return seen

    reached = set()      # (class, name, desc)
    loaded = set()       # classes whose initializer ran
    instantiated = set()
    mentioned = set()    # classes named in reached code or signatures
    work = []

    def reach(cname, name, desc):
        key = (cname, name, desc)
        if key not in reached and cname in classes and (name, desc) in classes[cname].methods:
            reached.add(key)
            work.append(key)
            load(cname)

    def reach_named(cname, name):
        for (n, d) in list(classes.get(cname, Cls("")).methods):
            if n == name:
                reach(cname, n, d)

    def load(cname):
        if cname in classes and cname not in loaded:
            loaded.add(cname)
            mentioned.add(cname)
            reach(cname, "<clinit>", "()V")
            c = classes[cname]
            if c.is_module and any(s not in PLAIN for s in c.supers):
                for (n, d) in c.methods:
                    reach(cname, n, d)

    def instantiate(cname):
        if cname in classes and cname not in instantiated:
            instantiated.add(cname)
            load(cname)
            c = classes[cname]
            for (n, d) in c.methods:
                if not c.is_module or n in ("readResolve", "writeReplace", "toString",
                                            "hashCode", "equals", "$deserializeLambda$"):
                    reach(cname, n, d)

    def call(owner, name, desc, virtual):
        if owner not in classes:
            return
        targets = ancestors(owner)
        if virtual:
            targets += [d for d in descendants(owner) if d not in targets]
        for t in targets:
            reach(t, name, desc)

    for m in MAINS:
        reach_named("graft/" + m, "main")
        reach_named("graft/" + m + "$", "main")
    for n, d in classes.get("graft/SparkEntry$", Cls("")).methods:
        reach("graft/SparkEntry$", n, d)
    reach_named("graft/Queries$", "all")
    for cls, meth in sorted(harness_roots()):
        reach_named(cls, meth)
    stale = []
    for (obj, meth) in KEEP:
        cname = obj.replace(".", "/") + "$"
        if not any(n == meth for n, _ in classes.get(cname, Cls("")).methods):
            stale.append(f"{obj}.{meth}")
        reach_named(cname, meth)

    dotted = {c.replace("/", "."): c for c in classes}
    while work:
        cname, name, desc = work.pop()
        m = classes[cname].methods[(name, desc)]
        mentioned.update(c for c in DESC_CLASS.findall(desc) if c in classes)
        for kind, owner, mname, mdesc in m["refs"]:
            if kind == "class":
                instantiate(owner)
            elif kind == "string":
                if owner in dotted:
                    instantiate(dotted[owner])
            elif kind == "Field":
                load(owner)
                mentioned.update(c for c in DESC_CLASS.findall(mdesc) if c in classes)
            else:
                mentioned.update(c for c in DESC_CLASS.findall(mdesc) if c in classes)
                call(owner, mname, mdesc, virtual=(mname != "<init>"))
        for idx in m["indy"]:
            if idx in classes[cname].lambda_deser:
                continue
            for (hc, hn, hd) in classes[cname].bootstraps.get(idx, []):
                call(hc, hn, hd, virtual=False)
                if hn == "<init>":
                    instantiate(hc)

    groups = defaultdict(list)
    for c in classes:
        groups[top_level(c)].append(c)
    dead_top = sorted(t for t, cs in groups.items() if not any(c in mentioned for c in cs))
    print(f"# {len(groups)} top-level objects/classes, {len(classes)} class files, "
          f"{len(reached)} of {sum(len(c.methods) for c in classes.values())} methods reached")
    print(f"unreached top-level objects: {len(dead_top)}")
    for t in dead_top:
        print("  " + t.replace("/", "."))

    dead_defs = []
    for cname in sorted(classes):
        if top_level(cname) in dead_top:
            continue
        c = classes[cname]
        mirror = cname + "$" in classes and not cname.endswith("$")
        if mirror or (cname not in mentioned):
            continue
        case_companion = c.is_module and any(n == "unapply" for n, _ in c.methods)
        generated = CASE_COMPANION if case_companion else set()
        names = defaultdict(lambda: [0, 0])
        for (n, d), meth in c.methods.items():
            if listed(n, meth, generated):
                names[source_name(n)][(cname, n, d) in reached] += 1
        for n, (dead, live) in sorted(names.items()):
            if dead and not live:
                dead_defs.append(f"{cname.replace('/', '.')}.{n}")
    print(f"unreached defs in reached objects and classes: {len(dead_defs)}")
    for d in dead_defs:
        print("  " + d)
    if stale:
        print(f"keep-list entries naming no def: {len(stale)}")
        for k in stale:
            print("  " + k)
    sys.exit(1 if dead_top or dead_defs or stale else 0)


if __name__ == "__main__":
    main()
