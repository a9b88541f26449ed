#!/usr/bin/env python3
"""Content-aware PARITY.md anchor sweep (r16 ritual; content checks r18).

Resolves every `file:line` citation in PARITY.md against the working
tree and checks the cited line's CONTENT, not just that it is code.
Three checks, strongest applicable wins:

 1. NAME: a backticked identifier adjacent to the citation — the ledger
    conventions `` `name` (`File.scala:N`) `` and
    `` `File.scala:N` (`name` ...) `` — must appear verbatim on the
    cited line.
 2. DESCRIPTION: a parenthesized prose blurb after the citation
    (`` `File.scala:N` (reversed arrival) ``) or a labelled contextual
    citation (`` admission boundary: `:265` ``), when the cited line is
    a test(...) line, must share a word-stem (>= 4 chars, prefix match)
    with the test's quoted title. This is the check that catches the
    r17 near-miss class: an insertion shifting a DIFFERENT named test
    exactly onto a cited line number now fails instead of passing.
 3. ANCHOR SHAPE: citations with neither a name nor a matchable
    description must land on a line that opens an anchor — a
    `test("...")` in a `*Spec.scala` file, a `def`, `class`, `object`,
    `val` or `trait` (after its modifiers) anywhere else — so a citation
    that drifts into a test or method body fails. This residual class is
    reported in the summary line (as "plausible") so its size is visible
    at seal time.

Contextual `:N` citations (backtick refs without a file) resolve
against the most recently named .scala file — the PATH it resolved to,
not just the basename — unless a source file is named bare (without
`.scala`, as in "TransformWithStateSpec `:259`") between the previous
citation and this one: the nearest such name becomes the file. A
basename shared by two source files is an ERROR unless the citation
carries a disambiguating path suffix (`streaming/Foo.scala:3`); a bare
name cannot carry one, so a shared one is an ERROR.

Usage: python3 scripts/parity_sweep.py [--quiet] [--selftest]
  --selftest: (1) the real tree must pass; (2) a synthetic fixture
  reproducing the r17 near-miss — a different test's opening line
  occupying a description-checked cited line number in StreamingSpec —
  must FAIL; (3) a cited entry point replaced by another def must FAIL;
  (4) a contextual citation after a bare spec name must be checked
  against that spec, not the last `.scala` file named; (5) a bare spec
  citation shifted onto a test-body line must FAIL. Exercised by the
  GATE ritual so the content checks cannot silently rot.
Exit 0 when every citation resolves to its named/described anchor.
"""
import re
import sys
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
QUIET = "--quiet" in sys.argv
SELFTEST = "--selftest" in sys.argv

# explicit: Optional/path/File.scala:12,34   contextual: `:12,34`
EXPLICIT = re.compile(r"([A-Za-z0-9_]+(?:/[A-Za-z0-9_]+)*\.scala):(\d+(?:,\d+)*)")
CONTEXTUAL = re.compile(r"`:(\d+(?:,\d+)*)`")
# a source file named without its extension, standing alone (not
# `Foo.scala`, not a member reference such as `StreamOps.tumblingCounts`)
BARE_NAME = re.compile(r"(?<![\w.])([A-Z]\w*)(?![\w.])")

# an anchor line must OPEN what the ledger cites: a test in a spec, a
# declaration (after its modifiers) anywhere else — never a line inside a
# body, which is where a drifted citation lands
SPEC_ANCHOR = re.compile(r'^test\("')
DECL_ANCHOR = re.compile(
    r"^(?:(?:(?:private|protected)(?:\[\w+\])?|final|override|abstract|sealed"
    r"|implicit|lazy|case)\s+)*(?:def|class|object|val|trait)\b")


def anchor_shaped(fname, content):
    pattern = SPEC_ANCHOR if fname.endswith("Spec.scala") else DECL_ANCHOR
    return bool(pattern.match(content))

# name adjacent to the citation: `name` (`<cite>  /  <cite>` (`name`
NAME_BEFORE = re.compile(r"`([A-Za-z_]\w*)`\s*\(`$")
NAME_AFTER = re.compile(r"^`?\s*\(`([A-Za-z_]\w*)`")
# prose blurb after the citation: <cite>` (reversed arrival)
DESC_AFTER = re.compile(r"^`?\s*\(([^()]{4,160})\)")
# labelled contextual: "; admission boundary: `:265`" — label back to
# the previous clause separator — or the colon-less tail form
# "cross-batch merge `:264`"
DESC_BEFORE = re.compile(r"([^;|,`\n]{4,160}):\s*$")
DESC_BEFORE_BARE = re.compile(r"(?:^|[;,|)])\s*([^;|,`:()\n]{4,80})\s$")

TEST_TITLE = re.compile(r"test\(\"([^\"]+)")
WORD = re.compile(r"[a-z0-9]{4,}")


def stems(s):
    return set(WORD.findall(s.lower()))


def stem_overlap(a, b):
    return any(x.startswith(y) or y.startswith(x) for x in a for y in b)


def build_paths(root):
    paths = {}
    for p in root.glob("src/**/*.scala"):
        paths.setdefault(p.name, []).append(p)
    return paths


def sweep(text, paths, read_lines, quiet=True):
    """Returns (checked, counts-by-check, failures list)."""
    failures = []
    checked = 0
    kinds = {"name": 0, "desc": 0, "plausible": 0}
    cur_path = None
    prev_end = 0
    events = [(m.start(), "explicit", m) for m in EXPLICIT.finditer(text)]
    events += [(m.start(), "contextual", m) for m in CONTEXTUAL.finditer(text)]
    events.sort(key=lambda e: e[0])

    for _, kind, m in events:
        gap, prev_end = text[prev_end:m.start()], m.end()
        bare = []
        if kind == "explicit":
            full, lines = m.group(1), m.group(2)
            fname = full.split("/")[-1]
            cands = paths.get(fname)
            if not cands:
                failures.append(f"{fname}: file not found in src/")
                cur_path = None
                continue
            matching = [p for p in cands if str(p).endswith(full)]
            if len(matching) != 1:
                # two sources share the basename and the citation does not
                # disambiguate (or the given path matches nothing) — an
                # anchor could otherwise validate against the wrong file
                failures.append(
                    f"{full}: ambiguous or unmatched path "
                    f"({len(cands)} candidates: "
                    f"{', '.join(str(p.relative_to(ROOT)) for p in cands)}) — "
                    f"cite a disambiguating path suffix")
                cur_path = None
                continue
            cur_path = matching[0]
        else:
            bare = [n for n in BARE_NAME.findall(gap) if f"{n}.scala" in paths]
            if bare:
                cands = paths[f"{bare[-1]}.scala"]
                if len(cands) != 1:
                    failures.append(
                        f"{bare[-1]} `:{m.group(1)}`: bare name shared by "
                        f"{len(cands)} sources — cite the file with a path suffix")
                    cur_path = None
                    continue
                cur_path = cands[0]
            if cur_path is None:
                continue
            lines = m.group(1)
        fname = cur_path.name
        src = read_lines(cur_path)

        # anchor identity from the surrounding prose (citation span incl.
        # backticks for contextual; the explicit match sits inside its own
        # backticks so text[m.end()] is '`')
        before, after = text[: m.start()], text[m.end():]
        name = None
        desc = None
        nb, na = NAME_BEFORE.search(before), NAME_AFTER.match(after)
        if nb:
            name = nb.group(1)
        elif na:
            name = na.group(1)
        else:
            da = DESC_AFTER.match(after)
            db = (DESC_BEFORE.search(before) or DESC_BEFORE_BARE.search(before)) \
                if kind == "contextual" else None
            if da:
                desc = da.group(1)
            elif db and (not bare or db.group(1).strip() != bare[-1]):
                # the label is the bare file name itself, not a description
                desc = db.group(1)

        nums = [int(x) for x in lines.split(",")]
        for i, ln in enumerate(nums):
            checked += 1
            if ln < 1 or ln > len(src):
                failures.append(f"{fname}:{ln}: beyond EOF ({len(src)} lines)")
                continue
            content = src[ln - 1].strip()
            plausible = anchor_shaped(fname, content)
            # a name/desc found next to a comma-list applies to the FIRST
            # cited line only (the list's tail are related anchors, e.g.
            # "(`patternMatchCounts`; processor `:306`)")
            title = TEST_TITLE.search(content)
            if name and i == 0:
                ok = name in content
                check = "name"
            elif desc and i == 0 and title:
                ok = stem_overlap(stems(desc), stems(title.group(1)))
                check = "desc"
            else:
                ok = plausible
                check = "plausible"
            ok = bool(ok)
            kinds[check] += ok
            tag = "ok " if ok else "FAIL"
            if not ok:
                why = {"name": f"missing `{name}`",
                       "desc": f"test title shares no stem with ({desc})",
                       "plausible": "not an anchor-shaped line"}[check]
                failures.append(f"{fname}:{ln} [{check}: {why}]: {content!r}")
            if not quiet:
                print(f"[{tag}/{check}] {fname}:{ln}: {content[:100]}")
    return checked, kinds, failures


def run_real():
    paths = build_paths(ROOT)
    text = (ROOT / "PARITY.md").read_text()
    cache = {}

    def read_lines(p):
        if p not in cache:
            cache[p] = p.read_text().splitlines()
        return cache[p]

    checked, kinds, failures = sweep(text, paths, read_lines, quiet=QUIET)
    print(f"\n[sweep] {checked} cited lines checked "
          f"(name {kinds['name']}, desc {kinds['desc']}, "
          f"plausible {kinds['plausible']}), {len(failures)} failures")
    for f in failures:
        print(f"[sweep-fail] {f}")
    return len(failures)


def run_selftest():
    # (1) positive control: the real tree must be clean
    if run_real() != 0:
        print("[selftest] FAIL: real tree not clean; fixture check skipped")
        return 1
    # (2) the r17 near-miss, reproduced: a DIFFERENT test's opening line
    # occupying a cited line number must now FAIL. Take the first
    # citation of StreamingSpec, which carries a description (row 1's
    # "late-drop + append finality"), and overwrite its cited line with a
    # foreign test header in an in-memory copy of the file.
    paths = build_paths(ROOT)
    text = (ROOT / "PARITY.md").read_text()
    target = paths["StreamingSpec.scala"][0]
    m = re.search(r"(?<![\w/])StreamingSpec\.scala:(\d+)", text)
    if not m:
        print("[selftest] FAIL: no StreamingSpec citation found")
        return 1
    ln = int(m.group(1))
    doctored = target.read_text().splitlines()
    doctored[ln - 1] = \
        '  test("synthetic probe: a foreign test landed on this line") {'

    def read_lines(p):
        return doctored if p == target else p.read_text().splitlines()

    _, _, failures = sweep(text, paths, read_lines, quiet=True)
    hit = [f for f in failures
           if f.startswith(f"StreamingSpec.scala:{ln} ")]
    if not hit:
        print(f"[selftest] FAIL: a foreign test header at {target.name}:{ln} "
              f"passed the sweep (failures: {failures})")
        return 1
    print(f"[selftest] ok: near-miss fixture caught at {target.name}:{ln} "
          f"-> {hit[0][:120]}")

    # (3) the NAME-class twin: a cited entry point replaced by a
    # different def on the same line must also fail.
    # either convention: `name` (`File.scala:N` or `File.scala:N` (`name`
    nm = re.search(r"`(?P<name>\w+)` \(`(?P<file>[\w/]+\.scala):(?P<line>\d+)"
                   r"|`(?P<file2>[\w/]+\.scala):(?P<line2>\d+)` \(`(?P<name2>\w+)`", text)
    if not nm:
        print("[selftest] FAIL: no name-convention citation found")
        return 1
    nname = nm.group("name") or nm.group("name2")
    nfull = nm.group("file") or nm.group("file2")
    nln = int(nm.group("line") or nm.group("line2"))
    ntarget = [p for p in paths[nfull.split("/")[-1]] if str(p).endswith(nfull)][0]
    ndoc = ntarget.read_text().splitlines()
    ndoc[nln - 1] = "  def someOtherEntryPoint(): Unit = {"

    def read_lines2(p):
        return ndoc if p == ntarget else p.read_text().splitlines()

    _, _, failures2 = sweep(text, paths, read_lines2, quiet=True)
    nhit = [f for f in failures2 if f.startswith(f"{ntarget.name}:{nln} ")]
    if not nhit:
        print(f"[selftest] FAIL: a foreign def at {ntarget.name}:{nln} passed "
              f"the sweep despite the `{nname}` name convention")
        return 1
    print(f"[selftest] ok: name fixture caught at {ntarget.name}:{nln} "
          f"-> {nhit[0][:120]}")

    # (4) a bare spec name before a contextual citation, after an explicit
    # citation of ANOTHER file: the citation is the named spec's line, so
    # a foreign test header there must fail even though the other file
    # is untouched.
    def first_test(p):
        lines = p.read_text().splitlines()
        ln = next(i + 1 for i, l in enumerate(lines) if TEST_TITLE.search(l))
        return lines, ln, TEST_TITLE.search(lines[ln - 1]).group(1)

    _, eln, etitle = first_test(paths["CusumStreamSpec.scala"][0])
    bare = paths["PatternMatchStreamSpec.scala"][0]
    lines, bln, title = first_test(bare)
    fixture = (f"`CusumStreamSpec.scala:{eln}` ({etitle}); "
               f"PatternMatchStreamSpec `:{bln}` ({title})")
    bdoc = list(lines)
    bdoc[bln - 1] = '  test("synthetic probe: a foreign test landed on this line") {'

    def read_lines3(p):
        return bdoc if p == bare else p.read_text().splitlines()

    _, _, clean = sweep(fixture, paths, lambda p: p.read_text().splitlines())
    _, _, failures3 = sweep(fixture, paths, read_lines3, quiet=True)
    bhit = [f for f in failures3 if f.startswith(f"{bare.name}:{bln} ")]
    if clean or not bhit:
        print(f"[selftest] FAIL: bare-name citation `:{bln}` not checked against "
              f"{bare.name} (clean run: {clean}; doctored run: {failures3})")
        return 1
    print(f"[selftest] ok: bare-name fixture caught at {bare.name}:{bln} "
          f"-> {bhit[0][:120]}")

    # (5) a spec citation with neither a name nor a description, shifted
    # onto a code line inside a test body by a one-line deletion above it,
    # must fail the anchor-shape check
    spec = paths["PatternMatchStreamSpec.scala"][0]
    slines = spec.read_text().splitlines()
    sln = next(i + 1 for i, l in enumerate(slines)
               if TEST_TITLE.search(l) and slines[i + 1].strip().startswith("val "))
    fixture5 = f"see `PatternMatchStreamSpec.scala:{sln}`."
    shifted = slines[1:]

    def read_lines5(p):
        return shifted if p == spec else p.read_text().splitlines()

    _, _, clean5 = sweep(fixture5, paths, lambda p: p.read_text().splitlines())
    _, _, failures5 = sweep(fixture5, paths, read_lines5, quiet=True)
    shit = [f for f in failures5 if f.startswith(f"{spec.name}:{sln} ")]
    if clean5 or not shit:
        print(f"[selftest] FAIL: a citation shifted onto the test-body line "
              f"{shifted[sln - 1].strip()!r} passed (clean run: {clean5})")
        return 1
    print(f"[selftest] ok: shifted-citation fixture caught at {spec.name}:{sln} "
          f"-> {shit[0][:120]}")
    return 0


if __name__ == "__main__":
    sys.exit(1 if (run_selftest() if SELFTEST else run_real()) else 0)
