from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FIXTURES = "/root/reference/tests/fixtures"
# the reference fixtures, in the turn order of fixture_transcripts()
FIXTURE_NAMES = [
    "sample.html", "sample.csv", "sample.json", "sample.xml",
    "sample.txt", "sample.py", "sample.ipynb", "sample.docx",
    "sample.pptx", "sample.xlsx", "sample.xls", "sample_unicode.xls",
]


def normalize(s: str) -> str:
    """Golden comparison normalization (reference tests/common/mod.rs:3-17):
    trim line ends, collapse blank-line runs, strip trailing newline."""
    lines = [line.rstrip() for line in s.splitlines()]
    result: list[str] = []
    prev_blank = False
    for line in lines:
        is_blank = line == ""
        if is_blank and prev_blank:
            continue
        result.append(line)
        prev_blank = is_blank
    return "\n".join(result).rstrip()


def fixture_transcripts():
    """One conversation whose turns are exactly the reference fixtures
    (used by the golden end-to-end Spark tests)."""
    import base64
    import datetime

    import pandas as pd

    from anytomd_spark.transcripts import _BASE_TS

    binary = {"sample.docx", "sample.pptx", "sample.xlsx", "sample.xls",
              "sample_unicode.xls"}
    rows = []
    for i, name in enumerate(FIXTURE_NAMES):
        with open(os.path.join(FIXTURES, name), "rb") as f:
            data = f.read()
        if name in binary:
            text = base64.b64encode(data).decode("ascii")
            tool = ""
        else:
            text = data.decode("utf-8")
            tool = name.rsplit(".", 1)[-1]
        rows.append((
            "conv-fixtures", i, ("user", "assistant")[i % 2], text, tool,
            _BASE_TS + datetime.timedelta(seconds=i),
        ))
    return pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
