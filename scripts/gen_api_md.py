#!/usr/bin/env python
"""Regenerate API.md: one line per public callable, first docstring
line as the summary. ``render()`` returns the text, so a test can
check that the committed API.md is current."""
import importlib
import inspect
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

MODS = [
    "pipeline_usnvc_spark.functions.text",
    "pipeline_usnvc_spark.functions.vectors",
    "pipeline_usnvc_spark.operators.dedup",
    "pipeline_usnvc_spark.operators.dedup_pipeline",
    "pipeline_usnvc_spark.operators.similarity",
    "pipeline_usnvc_spark.operators.multimodal",
    "pipeline_usnvc_spark.operators.hierarchy",
    "pipeline_usnvc_spark.operators.nest",
    "pipeline_usnvc_spark.operators.rank",
    "pipeline_usnvc_spark.operators.graph",
    "pipeline_usnvc_spark.operators.skew",
    "pipeline_usnvc_spark.operators.rangejoin",
    "pipeline_usnvc_spark.operators.skyline",
    "pipeline_usnvc_spark.operators.bpe",
    "pipeline_usnvc_spark.operators.checkpoint",
    "pipeline_usnvc_spark.pipelines.prepare",
    "pipeline_usnvc_spark.streaming.pipeline",
    "pipeline_usnvc_spark.streaming.stateful",
    "pipeline_usnvc_spark.streaming.ivm",
    "pipeline_usnvc_spark.sources.tables",
    "pipeline_usnvc_spark.sources.delimited",
    "pipeline_usnvc_spark.usnvc.ingest",
    "pipeline_usnvc_spark.usnvc.docs",
    "pipeline_usnvc_spark.usnvc.ledger",
]


def render() -> str:
    """The text of API.md for the code as it is now."""
    lines = [
        "# API — public operator surface",
        "",
        "Generated from docstrings (scripts/gen_api_md.py); one line per",
        "public callable. The queries built on these live in `plans/`",
        "(COVERAGE.md has the full index).",
        "",
    ]
    for m in MODS:
        mod = importlib.import_module(m)
        entries = []
        for name, obj in sorted(vars(mod).items()):
            if name.startswith("_") or not (
                inspect.isfunction(obj) or inspect.isclass(obj)
            ):
                continue
            if getattr(obj, "__module__", None) != m:
                continue
            doc = (inspect.getdoc(obj) or "").strip().split("\n")[0].rstrip()
            try:
                sig = str(inspect.signature(obj)) if inspect.isfunction(obj) else ""
            except (ValueError, TypeError):
                sig = ""
            entries.append(f"- `{name}{sig}` — {doc}")
        if entries:
            lines += [f"## {m.split('pipeline_usnvc_spark.')[-1]}", "", *entries, ""]
    return "\n".join(lines)


def main() -> None:
    sys.path.insert(0, REPO)
    text = render()
    with open(os.path.join(REPO, "API.md"), "w") as f:
        f.write(text)
    print(f"API.md regenerated ({len(text.splitlines())} lines)")


if __name__ == "__main__":
    main()
