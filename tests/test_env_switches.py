"""Guard against re-growing env switches: every operator has ONE code
path. The only ``HDFE_*`` environment variables the package may read
are sizing thresholds and the plan-dump / debug hooks below; a new
name here needs a reason that is not "keep the old plan alive"."""

import pathlib
import re

ALLOWED = {
    # thresholds
    "HDFE_AP_DRIVER_LEVELS_MAX",
    "HDFE_AP_DRIVER_NNZ_MAX",
    "HDFE_CLUSTER2_PAIR_RATIO",
    "HDFE_CLUSTER_FAST_MAX_K",
    "HDFE_DML_TREE2_CELLS_MAX",
    "HDFE_MAX_POSTING",
    "HDFE_PY_STAGE_PARTITIONS",
    "HDFE_PY_STAGE_TARGET_BYTES",
    "HDFE_SCOPED_PERSIST_CAP",
    "HDFE_WITHIN_FAST_MAX_COLS",
    # plan-dump / debug hooks
    "HDFE_DEBUG_AP",
    "HDFE_EXPLAIN_DIR",
}


def test_package_reads_only_allowed_env_names():
    pkg = pathlib.Path(__file__).resolve().parent.parent / "hdfe_spark"
    found = set()
    for path in pkg.rglob("*.py"):
        found |= set(re.findall(r"HDFE_[A-Z0-9_]+", path.read_text()))
    assert found == ALLOWED
