"""The docs name only code that exists: every backticked
``QueryPlan.<name>``, ``QueryEngine.<name>``, ``engine.<NAME>`` and
``streaming.<name>`` in README.md and docs/*.md resolves in the package,
every backticked ``register_dataset(<kw>=...)`` names a real parameter,
and no doc names a keyword of the deleted sequence strategies."""

import glob
import inspect
import os
import re

from funnel_rocket_spark import streaming
from funnel_rocket_spark.catalog import register_dataset
from funnel_rocket_spark.engine import engine
from funnel_rocket_spark.engine.engine import QueryEngine
from funnel_rocket_spark.planner.compiler import QueryPlan

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOCS = [os.path.join(ROOT, "README.md"),
        *sorted(glob.glob(os.path.join(ROOT, "docs", "*.md")))]
OWNERS = {"QueryPlan": QueryPlan, "QueryEngine": QueryEngine,
          "engine": engine, "streaming": streaming}
# ``engine.<NAME>`` is a module constant; a lowercase ``engine.x`` or a
# path such as ``engine/engine.py`` is not a reference to check
REFERENCE = re.compile(r"(?<![\w./])"
                       r"(?:(QueryPlan|QueryEngine|streaming)\.(\w+)"
                       r"|(engine)\.([A-Z][A-Z0-9_]*)\b)")
REGISTER_CALL = re.compile(r"\bregister_dataset\(([^)]*)\)")
KEYWORD = re.compile(r"(\w+)\s*=(?!=)")
DELETED_KEYWORDS = ("sequence_strategy", "fold_segmented",
                    "sequence_anchor_chain", "whale_row_threshold",
                    "segmented_cost_premium")


def test_docs_name_only_existing_code():
    checked, missing, stale = 0, [], []
    for path in DOCS:
        with open(path) as fh:
            text = fh.read()
        doc = os.path.relpath(path, ROOT)
        for span in re.findall(r"`([^`\n]+)`", text):
            for m in REFERENCE.finditer(span):
                owner = m.group(1) or m.group(3)
                name = m.group(2) or m.group(4)
                checked += 1
                if not hasattr(OWNERS[owner], name):
                    missing.append(f"{doc}: {owner}.{name}")
        stale += [f"{doc}: {k}" for k in DELETED_KEYWORDS if k in text]
    assert checked >= 3  # the pattern still finds the docs' references
    assert missing == []
    assert stale == []


def test_docs_name_only_real_register_dataset_options():
    params = inspect.signature(register_dataset).parameters
    checked, unknown = 0, []
    for path in DOCS:
        with open(path) as fh:
            text = fh.read()
        doc = os.path.relpath(path, ROOT)
        for span in re.findall(r"`([^`\n]+)`", text):
            for call in REGISTER_CALL.finditer(span):
                for kw in KEYWORD.findall(call.group(1)):
                    checked += 1
                    if kw not in params:
                        unknown.append(f"{doc}: register_dataset({kw}=...)")
    assert checked >= 2  # the pattern still finds the docs' options
    assert unknown == []
