#!/usr/bin/env python3
"""Library-surface check: every `def` and type in src/main/scala needs a reference.

Lists each `def`, `object`, `class` and `trait` under src/main/scala whose
name appears nowhere else in src/main, perfbench/src or tools/ outside
comment lines. A name counts as referenced if it occurs as a whole word
more often than it is declared, so overloads, companions and same-named
members of different objects share one verdict. A type used again inside
its own file (an expression class its registration builds, a helper trait)
counts, as does a type that holds a `main`. String literals stay in the
text: SQL strings call registered functions by name. `override def` and
`main` are skipped.

A def or type that is unreferenced on purpose goes in ALLOWLIST with its
one-line reason. The script prints `path:line Owner.name` for every def or
type that is neither referenced nor allowlisted, and every allowlist entry
that no longer names an unreferenced one, and exits 1 if it printed
anything.

    python3 tools/check_surface.py        # expected: no output, exit 0
"""
import pathlib
import re
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
SEARCH = [ROOT / "src/main", ROOT / "perfbench/src", ROOT / "tools"]
SUFFIXES = {".scala", ".py", ".sh"}

REFERENCE_ENTRY = "mirrors a reference or BigraphER entry point named in SURVEY"
ALLOWLIST = {
    "Hierarchy.memberClosure": "mirrors the reference's R4 member closure (SURVEY:147/547)",
    "TransitionGraph.toLab": REFERENCE_ENTRY + " (BigraphER .lab export)",
    "TransitionGraph.toStateRewards": REFERENCE_ENTRY + " (BigraphER state-reward export)",
    "TransitionGraph.toTransitionRewards": REFERENCE_ENTRY + " (BigraphER transition-reward export)",
    "TransitionGraph.toPrism": REFERENCE_ENTRY + " (BigraphER PRISM export)",
    "Reactions.fix": REFERENCE_ENTRY + " (builder.mli fix)",
    "Reactions.randomStep": REFERENCE_ENTRY + " (builder.mli random_step)",
    "BigraphJson.readGolden": "golden-parity reference: reads the reference's output JSON for the specs",
    "BigraphJson.canonOf": "golden-parity reference: the canonical form the specs compare",
    "BoundaryCellIndex.containing": "independent point-in-polygon reference the spatial specs compare against",
    "Reactions.connectMatches": "MatcherOracleSpec's B6 matcher, the reference the occurrence probe is checked against",
    "Geocode.checkExtractionInvariant": "the BASELINE.json:15 extraction invariant, asserted by GeocodeSpec",
    "CellIndex.centroid": "cell API tested by CellIndexSpec",
    "CellIndex.rangeMin": "cell API tested by CellIndexSpec",
    "CellIndex.rangeMax": "cell API tested by CellIndexSpec",
}

DEF = re.compile(r"^(?P<indent>\s*)(?P<mods>(?:[a-z]+(?:\[[\w.]+\])?\s+)*)def\s+(?P<name>[A-Za-z_]\w*)")
OWNER = re.compile(r"^(?P<indent>\s*)(?:[a-z]+(?:\[[\w.]+\])?\s+)*(?:object|class|trait)\s+(?P<name>[A-Za-z_]\w*)")
WORD = re.compile(r"[A-Za-z_]\w*")


def code_lines(text, suffix):
    """`text` without its comment lines (kept as blanks, so numbering holds):
    `#` lines in Python and shell, `//`, `/*` and scaladoc `*` lines in Scala.
    A comment after code on the same line still counts as a reference."""
    marks = ("//", "/*", "*") if suffix == ".scala" else ("#",)
    return "\n".join("" if line.lstrip().startswith(marks) else line
                     for line in text.splitlines())


def sources():
    for root in SEARCH:
        for p in sorted(root.rglob("*")):
            # this script names the allowlisted defs, so it is no caller
            if (p.suffix in SUFFIXES and p.is_file() and "target" not in p.parts
                    and p.resolve() != pathlib.Path(__file__).resolve()):
                yield p


def unreferenced(decls, occurrences):
    """The (path, line, owner, name) declarations whose name occurs no more
    often than it is declared."""
    declared = {}
    for _, _, _, name in decls:
        declared[name] = declared.get(name, 0) + 1
    return [d for d in decls if occurrences.get(d[3], 0) <= declared[d[3]]]


def main():
    texts = {}
    for p in sources():
        texts[p] = code_lines(p.read_text(encoding="utf-8"), p.suffix)

    occurrences = {}
    for text in texts.values():
        for w in WORD.findall(text):
            occurrences[w] = occurrences.get(w, 0) + 1

    defs, types = [], []  # (path, line, owner, name); a top-level type's owner is None
    mains = set()  # (path, name) of each type that holds a `def main`
    for p, text in texts.items():
        if not str(p).startswith(str(ROOT / "src/main/scala")):
            continue
        owners = []  # (indent, name)
        for no, line in enumerate(text.splitlines(), 1):
            m = OWNER.match(line)
            if m:
                indent = len(m.group("indent"))
                owners = [o for o in owners if o[0] < indent]
                types.append((p, no, owners[-1][1] if owners else None, m.group("name")))
                owners.append((indent, m.group("name")))
                continue
            m = DEF.match(line)
            if not m or "override" in m.group("mods").split():
                continue
            indent = len(m.group("indent"))
            owner = next((o[1] for o in reversed(owners) if o[0] < indent), p.stem)
            if m.group("name") == "main":
                mains.add((p, owner))
            else:
                defs.append((p, no, owner, m.group("name")))

    found = [(d, "no caller outside comments") for d in unreferenced(defs, occurrences)]
    found += [(t, "type named nowhere outside comments") for t in unreferenced(types, occurrences)
              if (t[0], t[3]) not in mains]

    problems = []
    seen = set()
    for (p, no, owner, name), why in found:
        key = f"{owner}.{name}" if owner else name
        seen.add(key)
        if key not in ALLOWLIST:
            problems.append(f"{p.relative_to(ROOT)}:{no} {key}: {why}")
    for key in sorted(set(ALLOWLIST) - seen):
        problems.append(f"tools/check_surface.py: allowlisted {key} is not an unreferenced def or type")
    for line in problems:
        print(line)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
