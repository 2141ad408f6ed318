"""The documented run commands name scripts that exist.

README.md's "Run it" block and the verify skill's recipe are how a reader
runs this checkout; deleting an entry point must not leave a dead command
behind in either.  Paths are written relative to the checkout, optionally
as ``<checkout>/...``, so the check holds in any clone.
"""

from __future__ import annotations

import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# `python` / `python3` followed by a script path; the whitespace may be a
# line break inside a wrapped inline code span
_SCRIPT = re.compile(r"\bpython3?\s+([^\s`'\"]+\.py)\b")


def _read(rel: str) -> str:
    with open(os.path.join(ROOT, rel), encoding="utf-8") as f:
        return f.read()


def _run_it_block() -> str:
    readme = _read("README.md")
    section = readme.split("\n## Run it\n", 1)[1]
    return section.split("```bash\n", 1)[1].split("```", 1)[0]


def _missing(text: str) -> tuple[list[str], list[str]]:
    """The scripts ``text`` runs, and those not found in this checkout (an
    absolute path counts as missing: it names one machine's checkout)."""
    scripts = [p.removeprefix("<checkout>/") for p in _SCRIPT.findall(text)]
    missing = [
        p for p in scripts if os.path.isabs(p) or not os.path.isfile(os.path.join(ROOT, p))
    ]
    return scripts, missing


def test_readme_run_it_scripts_exist():
    scripts, missing = _missing(_run_it_block())
    assert "perfbench/run.py" in scripts
    assert missing == []


def test_verify_skill_scripts_exist():
    scripts, missing = _missing(_read(os.path.join(".claude", "skills", "verify", "SKILL.md")))
    assert "bench/scaling_protocol.py" in scripts
    assert missing == []
