"""The tools/ and examples/ scripts: documented, and run against their own
checkout."""

import glob
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _readme_tools_section() -> str:
    with open(os.path.join(REPO, "README.md")) as f:
        lines = f.read().splitlines()
    start = lines.index("tools/") + 1
    end = start
    while end < len(lines) and lines[end].startswith(" "):
        end += 1
    return "\n".join(lines[start:end])


def test_every_tool_is_in_readme():
    section = _readme_tools_section()
    tools = sorted(glob.glob(os.path.join(REPO, "tools", "*.py")))
    assert tools
    missing = [
        os.path.basename(p) for p in tools
        if os.path.basename(p) not in section
    ]
    assert not missing, f"tools/ scripts missing from README: {missing}"


def test_scripts_import_their_own_checkout():
    """A copy of the repo must run its own code: no script puts a literal
    path on sys.path (the checkout root comes from `__file__`)."""
    literal = re.compile(r"sys\.path\.insert\(\s*0\s*,\s*[rbf]?[\"']")
    hardcoded = []
    for sub in ("tools", "examples"):
        for p in glob.glob(os.path.join(REPO, sub, "**", "*.py"),
                           recursive=True):
            with open(p) as f:
                if literal.search(f.read()):
                    hardcoded.append(os.path.relpath(p, REPO))
    assert not hardcoded, f"scripts hardcode a checkout path: {hardcoded}"
