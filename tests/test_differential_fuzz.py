"""In-suite differential fuzz: every `pytest tests/` run guards byte-parity
with the reference JS (tools/js_oracle.mjs executes /root/reference's own
code under node), not just the frozen goldens.

64 seeded cases (8 synthetic documents x 8 modes) — a fixed seed distinct
from the golden/fuzz-tool seeds so the suite exercises its own corpus.
The heavier sweep stays in tools/fuzz_diff.py for ad-hoc/judge runs.
"""

import json
import os
import random
import shutil
import subprocess

import pytest

from patent_decision_document_converter_spark.plans.registry import MODES, convert_text
from patent_decision_document_converter_spark.sources.generator import make_document_text

from .conftest import JS_REFERENCE_DIR

pytestmark = [
    pytest.mark.skipif(shutil.which("node") is None, reason="node not available"),
    pytest.mark.skipif(
        not os.path.isdir(JS_REFERENCE_DIR), reason="reference JS checkout not available"
    ),
]

SEED = 20260817
N_DOCS = 8


def test_fuzz_all_modes_byte_match_reference():
    rng = random.Random(SEED)
    texts = [make_document_text(rng) for _ in range(N_DOCS)]
    requests = [{"mode": m, "text": t} for t in texts for m in MODES]
    expected = json.loads(
        subprocess.run(
            ["node", "tools/js_oracle.mjs"],
            input=json.dumps(requests).encode(),
            capture_output=True,
            check=True,
        ).stdout
    )
    mismatches = []
    for req, exp in zip(requests, expected):
        got = convert_text(req["text"], req["mode"])
        if got != exp:
            i = next(
                (i for i, (a, b) in enumerate(zip(got, exp)) if a != b),
                min(len(got), len(exp)),
            )
            mismatches.append(
                f"mode={req['mode']} first diff at char {i}: "
                f"py={got[max(0, i - 20):i + 20]!r} js={exp[max(0, i - 20):i + 20]!r}"
            )
    assert not mismatches, "\n".join(mismatches[:5])
