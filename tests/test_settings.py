"""The environment variables the engine reads, pinned from its source."""

import re
from pathlib import Path

KGPIPE = Path(__file__).resolve().parents[1] / "kgpipe"

# where the engine runs and where it writes: the only settings a
# deployment passes through the environment
DEPLOYMENT_SETTINGS = {
    "SPARK_GRAFT_CPUS", "KGPIPE_MASTER", "KGPIPE_DRIVER_MEM",
    "KGPIPE_TABLE_FORMAT",
}

_ACCESS = re.compile(r"\b(?:environ|getenv)\b")
_LITERAL_READ = re.compile(
    r"\b(?:environ\s*\[|environ\.get\s*\(|getenv\s*\()\s*['\"](\w+)['\"]")


def test_kgpipe_reads_only_deployment_env_vars():
    """kgpipe/ reads the deployment settings and nothing else from the
    environment: a measurement toggle read there would change what a
    run does without a trace in its arguments. Every access must name
    its variable as a literal, so none escapes this check."""
    names, accesses, literal = {}, 0, 0
    for path in sorted(KGPIPE.rglob("*.py")):
        text = path.read_text(encoding="utf8")
        accesses += len(_ACCESS.findall(text))
        for m in _LITERAL_READ.finditer(text):
            literal += 1
            names.setdefault(m.group(1), []).append(path.name)
    assert accesses == literal, "environment read without a literal name"
    assert set(names) == DEPLOYMENT_SETTINGS, names
