#!/usr/bin/env python3
"""List the Scala members in src/main that nothing reaches.

    python3 tools/unreached.py          # run from the repository root

A member is a `def`, `val`, `var`, `object`, `class` or `trait` declared at
package level or in the body of an object, class or trait, public or not;
`override` members are skipped, the framework calls them. It is *reached*
when its name occurs, as a whole word, in comment-stripped main code
outside its own definition, or anywhere under `perfbench/`. Tests do not
count: the 183 keys of `graft.SparkEntry`, the objects with a `main` and
the perfbench workloads are the roots. The scan repeats until nothing new
turns up, so code that only unreached code calls is listed too.

Matching is by name, so it errs towards "reached": an overload or a
same-named member elsewhere keeps a name alive. String literals are blanked
(interpolated expressions are kept), so a name that appears only inside a
string does not count.

Prints one `path:line: kind name` per unreached member and exits 1 if
there is any; prints nothing and exits 0 otherwise. ALLOW lists members
kept on purpose, each with its reason.
"""
import os
import re
import sys

MAIN = "src/main/scala"
ROOTS = ["perfbench"]

ALLOW = {
    # Reference twins that specs compare reached code against.
    "cosineHof": "HOF twin the native CosineSimilarity specs compare with",
    "zonemapBox": "base-table box the zonemap pruning spec checks the sidecar box against",
    "mgSummarize": "sequential Misra-Gries pass PropertySpec composes like mgSummaryOf",
    # Helpers a kept spec of reached code calls.
    "rebuildDedupIndex": "the incrementalDedup epoch rotation and rollback spec",
    "qualityClassifierWith": "scores q_classifier_train's student in TextOpsSpec",
    "mgSummaryOf": "heavy-hitter bounds under adversarial partitionings in TextOpsSpec",
    "decontaminateFuzzyMetrics": "the fuzzy decontamination spec's paraphrase fixture",
    # Test and maintenance utility.
    "dropEpochFamily": "drops an epoch family; 57 test call sites",
    # Selected by name through spark.sql.extensions.
    "GraftExtensions": "named in spark.sql.extensions, never referenced in code",
}

DECL = re.compile(
    r"\b(def|val|var|lazy\s+val|object|class|trait)\s+([A-Za-z_][A-Za-z0-9_]*)")
OVERRIDE = re.compile(r"\boverride\b")
WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def strip(src):
    """Blank comments and string contents, keeping line structure and the
    expressions of interpolated strings."""
    out = []
    i, n = 0, len(src)

    def blank(s):
        return re.sub(r"[^\n]", " ", s)

    while i < n:
        c = src[i]
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            out.append(blank(src[i:j]))
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
            out.append(blank(src[i:j]))
            i = j
        elif c == '"':
            interp = i > 0 and (src[i - 1].isalnum() or src[i - 1] == "_")
            triple = src.startswith('"""', i)
            q = '"""' if triple else '"'
            j = i + len(q)
            out.append(q)
            while j < n and not src.startswith(q, j):
                if not triple and src[j] == "\\":
                    out.append("  ")
                    j += 2
                elif interp and src.startswith("${", j):
                    depth, k = 1, j + 2
                    while k < n and depth:
                        depth += {"{": 1, "}": -1}.get(src[k], 0)
                        k += 1
                    out.append(src[j:k])
                    j = k
                elif interp and src.startswith("$", j) and j + 1 < n and \
                        (src[j + 1].isalpha() or src[j + 1] == "_"):
                    m = WORD.match(src, j + 1)
                    out.append(src[j:m.end()])
                    j = m.end()
                else:
                    out.append("\n" if src[j] == "\n" else " ")
                    j += 1
            if triple:
                while src.startswith('""""', j):  # closing quotes may run long
                    out.append(" ")
                    j += 1
            out.append(q)
            i = j + len(q)
        elif c == "'" and i + 2 < n and (src[i + 2] == "'" or src[i + 1] == "\\"):
            j = src.find("'", i + 2) + 1
            out.append(blank(src[i:j]))
            i = j
        else:
            out.append(c)
            i += 1
    return "".join(out)


def members(text):
    """(line, kind, name, indent) of each member of `text`."""
    found = []
    stack = []          # one bool per open brace: is it a template body?
    pending = False     # saw object/class/trait; its `{` opens a template
    depth = 0           # paren/bracket depth
    for m in re.finditer(r"[{}()\[\]]|=>?|" + DECL.pattern, text):
        tok = m.group(0)
        if tok in "([":
            depth += 1
        elif tok in ")]":
            depth -= 1
        elif depth:
            continue
        elif tok == "{":
            stack.append(pending)
            pending = False
        elif tok == "}":
            if stack:
                stack.pop()
            pending = False
        elif tok in ("=", "=>"):
            pending = False
        else:
            kind, name = m.group(1), m.group(2)
            pending = kind in ("object", "class", "trait")
            if not all(stack):
                continue
            line_start = text.rfind("\n", 0, m.start()) + 1
            head = text[line_start:m.start()]
            if OVERRIDE.search(head):
                continue
            if name == "main" and kind == "def":
                continue
            indent = len(head) - len(head.lstrip())
            found.append((text.count("\n", 0, m.start()) + 1,
                          kind.split()[-1], name, indent))
    return found


def span(lines, start, indent):
    """Lines [start, end) a member declared at line `start` (1-based)
    spans: up to the next non-blank line indented no deeper, keeping a
    closing `}`/`)` line at the member's own indentation."""
    i = start
    closed = False
    while i < len(lines):
        s = lines[i]
        if s.strip():
            ind = len(s) - len(s.lstrip())
            if ind < indent:
                break
            if ind == indent:
                if s.lstrip()[0] in "})" and not closed:
                    closed = s.lstrip()[0] == "}" and s.strip().rstrip(")") == "}"
                    i += 1
                    continue
                break
        i += 1
    return start - 1, i


def main():
    files = {}
    for d, _, names in os.walk(MAIN):
        for f in sorted(names):
            if f.endswith(".scala"):
                p = os.path.join(d, f)
                files[p] = strip(open(p, encoding="utf-8").read()).split("\n")
    roots = []
    for root in ROOTS:
        for d, _, names in os.walk(root):
            for f in names:
                if f.endswith((".scala", ".py")):
                    p = os.path.join(d, f)
                    src = open(p, encoding="utf-8", errors="replace").read()
                    roots.append(strip(src) if f.endswith(".scala") else src)
    root_words = set(WORD.findall("\n".join(roots)))

    decls = []  # (path, line, kind, name, lo, hi)
    for p, lines in files.items():
        for line, kind, name, indent in members("\n".join(lines)):
            lo, hi = span(lines, line, indent)
            # An object with a `main` is an entry point.
            if kind == "object" and any(
                    re.search(r"\bdef\s+main\b", s) for s in lines[lo:hi]):
                continue
            decls.append((p, line, kind, name, lo, hi))

    # Live lines each word occurs on, so a name's references can be told
    # apart from the lines of its own definitions.
    occurs = {}
    for p, lines in files.items():
        for k, line in enumerate(lines):
            for w in set(WORD.findall(line)):
                occurs.setdefault(w, set()).add((p, k))
    dead = set()
    while True:
        gone = {(decls[i][0], k) for i in dead
                for k in range(decls[i][4], decls[i][5])}
        own = {}
        for i, (p, _, _, name, lo, hi) in enumerate(decls):
            if i not in dead:
                own.setdefault(name, set()).update((p, k) for k in range(lo, hi))
        new = {i for i, (_, _, _, name, _, _) in enumerate(decls)
               if i not in dead and name not in ALLOW and name not in root_words
               and not occurs.get(name, set()) - own[name] - gone}
        if not new:
            break
        dead |= new
    for i in sorted(dead, key=lambda i: (decls[i][0], decls[i][1])):
        p, line, kind, name, _, _ = decls[i]
        print("%s:%d: %s %s" % (p, line, kind, name))
    return 1 if dead else 0


if __name__ == "__main__":
    sys.exit(main())
