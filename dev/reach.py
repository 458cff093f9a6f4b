#!/usr/bin/env python3
"""Print the reach list: for every main-source object, what runs it.

Usage: python3 dev/reach.py            (from the repo root; prints Markdown)

An object is reached by an entry point when the entry point names it, or
names an object that (transitively) names it. Names are matched as whole
words after comments are stripped; a reference inside a string literal
(for example a class name in a Spark conf) counts. Entry points:

  qNN        an oracle query: one `SparkEntry` member listed in `queries`
  stage:X    a pipeline stage object under graft/pipeline
  main:X     an object with `def main` (PipelineDemo, ScaleRun, ...)
  bench:W    a perfbench workload (perfbench/src)

`SparkEntry`'s own members are split apart, so a query reaches only what
its body and the helpers it calls name. An object that no entry point
reaches is listed with the spec files that name it ("spec only").
"""
import re
import sys
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
MAIN = ROOT / "src" / "main" / "scala"
TEST = ROOT / "src" / "test" / "scala"
BENCH = ROOT / "perfbench" / "src"

TOP = re.compile(r"^(?:private\[\w+\] )?(?:final )?(?:case )?(?:object|class|trait) (\w+)",
                 re.M)
MEMBER = re.compile(r"^  (?:private |final |lazy |implicit |override )*(?:def|val) (\w+)",
                    re.M)
STAGES = ("MetaGen", "ContentGen", "PostProcess", "Validator")
# the assembled maps name every query; a query body's local `queries` is not them
ASSEMBLED = ("SparkEntry.queries", "SparkEntry.oracleSql")
WORKLOADS = {"DlpWorkload": "bench:dlp_reference", "OpsWorkload": "bench:ops_iterative"}


def strip_comments(s):
    s = re.sub(r"/\*.*?\*/", " ", s, flags=re.S)
    return re.sub(r"(^|\s)//.*$", r"\1", s, flags=re.M)


def split_top(text):
    """(name, body) per top-level type; a companion pair merges into one."""
    hits = list(TOP.finditer(text))
    out = defaultdict(str)
    for i, m in enumerate(hits):
        end = hits[i + 1].start() if i + 1 < len(hits) else len(text)
        out[m.group(1)] += text[m.start():end]
    return out


def main():
    nodes = {}    # name -> stripped body
    where = {}    # object name -> (file, lines)
    for f in sorted(MAIN.rglob("*.scala")):
        raw = f.read_text()
        for name, body in split_top(raw).items():
            nodes[name] = strip_comments(body)
            where[name] = (f.relative_to(ROOT).as_posix(), body.count("\n"))

    # SparkEntry: one node per member; queries map member -> query id
    entry = nodes.pop("SparkEntry")
    members = list(MEMBER.finditer(entry))
    qid = set(re.findall(r'"q\d+_\w+" -> \((q\d+) _\)', entry))
    se = {}
    for i, m in enumerate(members):
        end = members[i + 1].start() if i + 1 < len(members) else len(entry)
        se["SparkEntry." + m.group(1)] = entry[m.start():end]
    nodes.update(se)

    words = lambda s: set(re.findall(r"\w+", s))
    objects = [n for n in nodes if not n.startswith("SparkEntry.")]
    edges = {}
    for n, body in nodes.items():
        w = words(body)
        own = n.split(".")[-1]
        e = {o for o in objects if o in w and o != own}
        if n.startswith("SparkEntry."):
            e |= {m for m in se if m.split(".")[1] in w and m != n
                  and m not in ASSEMBLED}
        edges[n] = e

    roots = {}
    for m in se:
        short = m.split(".")[1]
        if short in qid:
            roots[m] = short
    for n in objects:
        if n in STAGES:
            roots[n] = "stage:" + n
        elif re.search(r"\bdef main\(", nodes[n]):
            roots[n] = "main:" + n
    bench_text = strip_comments("".join(f.read_text() for f in sorted(BENCH.rglob("*.scala"))))
    for cls, label in WORKLOADS.items():
        body = "".join(b for k, b in split_top(bench_text).items() if k == cls)
        w = words(body)
        e = {o for o in objects if o in w}
        e |= {"SparkEntry." + q for q in re.findall(r'"(q\d+)_\w+"', body)}
        e.discard("SparkEntry")
        nodes[label] = body
        edges[label] = e
        roots[label] = label

    def closure(start):
        seen, todo = set(start), list(start)
        while todo:
            for nxt in edges[todo.pop()]:
                if nxt not in seen:
                    seen.add(nxt)
                    todo.append(nxt)
        return seen

    reach = defaultdict(set)
    for r, label in roots.items():
        for n in closure([r]) - {r}:
            reach[n].add(label)

    specs = defaultdict(list)
    for f in sorted(TEST.rglob("*Spec.scala")):
        w = words(strip_comments(f.read_text()))
        for n in closure([o for o in objects if o in w]):
            specs[n].append(f.stem)

    def ranges(qs):
        """q17, q18, q19, q21 -> q17–q19, q21"""
        ns, out = sorted(int(q[1:]) for q in qs), []
        for n in ns:
            if out and out[-1][1] == n - 1:
                out[-1][1] = n
            else:
                out.append([n, n])
        return ", ".join(f"q{a:02d}" if a == b else f"q{a:02d}–q{b:02d}" for a, b in out)

    print("| object | file | lines | reached by |")
    print("|---|---|---|---|")
    for o in sorted(objects + ["SparkEntry"], key=lambda o: (where[o][0], o)):
        if o == "SparkEntry":
            by = f"{len(qid)} oracle queries (entry points)"
        else:
            own = [roots[o]] if o in roots else []
            qs = [l for l in reach[o] if l.startswith("q")]
            rest = sorted(l for l in reach[o] if not l.startswith("q"))
            parts = own + ([f"{len(qs)} quer{'y' if len(qs) == 1 else 'ies'}: " + ranges(qs)] if qs else []) + rest
            by = "; ".join(parts) if parts else (
                "spec only: " + ", ".join(specs[o]) if specs[o] else "nothing")
        print(f"| {o} | {where[o][0].replace('src/main/scala/', '')} | {where[o][1]} | {by} |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
