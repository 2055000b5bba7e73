"""Record one driver round in the verified-fingerprint file.

    python scripts/record_verified.py CORRECTNESS_rNN.json REV

REV is the git revision the round verified. The script extracts it with
``git archive`` into a temporary directory, imports its catalog there,
and fingerprints every query with this checkout's
``workloads.base.fingerprints``. Each query the round sampled gets its
fingerprint at REV recorded; a query whose row failed loses its record.
Round NN joins ``rounds``. Record rounds in order: a later round's row
overrides an earlier one's.

A row counts as sampled when its ``err`` is None or ``"no_oracle"`` and
none of its ``*_match`` fields is False. Fingerprints hash bytecode, so
record with the Python version the driver runs (the seed used 3.11); under
another version every query reads as changed.
"""

from __future__ import annotations

import io
import json
import os
import re
import subprocess
import sys
import tarfile
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from orca_ztbus_python_processor_spark.workloads import base  # noqa: E402

# Runs in the REV tree: its catalog, this checkout's fingerprint code.
_FINGERPRINT_AT_REV = """
import importlib.util, json, sys
sys.path.insert(0, sys.argv[1])
from orca_ztbus_python_processor_spark.workloads.base import merged_catalog
spec = importlib.util.spec_from_file_location("head_base", sys.argv[2])
head = importlib.util.module_from_spec(spec)
spec.loader.exec_module(head)
print(json.dumps(head.fingerprints(merged_catalog())))
"""


def sampled(row: dict) -> bool:
    no_false_match = not any(v is False for k, v in row.items() if k.endswith("_match"))
    return row.get("err") in (None, "no_oracle") and no_false_match


def fingerprints_at(rev: str) -> dict[str, str]:
    archive = subprocess.run(
        ["git", "-C", REPO, "archive", rev], capture_output=True, check=True
    ).stdout
    with tempfile.TemporaryDirectory() as tree:
        tarfile.open(fileobj=io.BytesIO(archive)).extractall(tree)
        out = subprocess.run(
            [sys.executable, "-c", _FINGERPRINT_AT_REV, tree, base.__file__],
            cwd=tree,
            capture_output=True,
            text=True,
            check=True,
        ).stdout
    return json.loads(out.splitlines()[-1])


def main(correctness: str, rev: str) -> None:
    round_no = int(re.search(r"_r(\d+)\.json$", correctness).group(1))
    with open(correctness) as f:
        rows = json.load(f)
    at_rev = fingerprints_at(rev)
    if os.path.exists(base.VERIFIED_JSON):
        with open(base.VERIFIED_JSON) as f:
            data = json.load(f)
    else:
        data = {"rounds": [], "fingerprints": {}}
    for name, row in rows.items():
        if not sampled(row):
            data["fingerprints"].pop(name, None)
        elif name in at_rev:
            data["fingerprints"][name] = at_rev[name]
    data["rounds"] = sorted(set(data["rounds"]) | {round_no})
    data["fingerprints"] = dict(sorted(data["fingerprints"].items()))
    text = json.dumps(data, indent=1)  # one fingerprint a line, the rounds on one
    text = re.sub(r'"rounds": \[[^]]*\]', f'"rounds": {data["rounds"]}', text)
    with open(base.VERIFIED_JSON, "w") as f:
        f.write(text + "\n")
    print(f"round {round_no} at {rev}: {len(data['fingerprints'])} queries recorded")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
