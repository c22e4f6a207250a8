"""Dead-code guard: every public top-level function in kgner/ must be
referenced somewhere other than its own `def` line — in kgner/, tests/,
tools/, perfbench/, the bench*.py harnesses or __spark_entry__.py. Pure
Python, no Spark."""

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
_DEF_RE = re.compile(r"^def ([A-Za-z]\w*)\b", re.MULTILINE)


def _sources() -> dict[Path, str]:
    files = [
        p
        for d in ("kgner", "tests", "tools", "perfbench")
        for p in (ROOT / d).rglob("*.py")
    ]
    files += sorted(ROOT.glob("bench*.py")) + [ROOT / "__spark_entry__.py"]
    return {p: p.read_text(encoding="utf-8") for p in files if p.exists()}


def test_no_unreferenced_public_defs():
    srcs = _sources()
    defs: dict[str, list[str]] = {}
    for p, text in srcs.items():
        if ROOT / "kgner" in p.parents:
            for name in _DEF_RE.findall(text):
                defs.setdefault(name, []).append(str(p.relative_to(ROOT)))
    assert defs, "no kgner/ sources found"
    corpus = "\n".join(srcs.values())
    unreferenced = {}
    for name, where in defs.items():
        uses = len(re.findall(rf"\b{re.escape(name)}\b", corpus))
        def_lines = len(re.findall(rf"^def {re.escape(name)}\b", corpus, re.MULTILINE))
        if uses <= def_lines:
            unreferenced[name] = where
    assert not unreferenced, f"public defs with no reference: {unreferenced}"
