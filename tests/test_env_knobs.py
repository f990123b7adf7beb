"""Guard on the environment variables the package reads: every switch is a
code path that must earn its place, so a new one has to be added to the
allow-list below on purpose."""

import ast
import pathlib
import re

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "tabbyld_spark"
# a bare prefix (f"SPARK_GRAFT_{name}") matches too, so a built name is caught
KNOB = re.compile(r"SPARK_GRAFT_\w*|SPARK_DRIVER_MEM|TABBYLD_\w*")
ALLOWED = {
    # deployment settings
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_AQE",
    "SPARK_GRAFT_LOCAL_DIR",
    "SPARK_DRIVER_MEM",
    "SPARK_GRAFT_RELIABLE_CHECKPOINT",
    "SPARK_GRAFT_CHECKPOINT_DIR",
    # surrogate key width: the birthday-bound guard at 10^12 documents
    "SPARK_GRAFT_KEYBITS",
    "TABBYLD_FIXTURE_DIR",
}


def _knob_literals() -> dict[str, list[str]]:
    found: dict[str, list[str]] = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Constant) and isinstance(node.value, str) \
                    and KNOB.fullmatch(node.value):
                where = f"{path.relative_to(PACKAGE.parent)}:{node.lineno}"
                found.setdefault(node.value, []).append(where)
    return found


def test_env_knobs_match_allow_list():
    found = _knob_literals()
    assert set(found) == ALLOWED, {
        "unlisted": {k: v for k, v in found.items() if k not in ALLOWED},
        "missing": sorted(ALLOWED - set(found)),
    }
