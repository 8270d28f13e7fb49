"""Source-level Python-row-path gate.

The engine's stated rule is "no Python in the row path except documented
exceptions" (plans/inspect.py already enforces this at PLAN level by
rejecting BatchEvalPython in registered queries' physical plans; this
test closes the SOURCE level).  It AST-walks riptable_spark/ for every
call site of mapInPandas / applyInPandas / applyInPandasWithState /
mapPartitions / pandas_udf / udf and asserts the set equals the
documented inventory below.  Adding an undocumented UDF fails this test
until the site is added here WITH a justification comment.
"""

from __future__ import annotations

import ast
import pathlib

KINDS = {
    "mapInPandas",
    "applyInPandas",
    "applyInPandasWithState",
    "mapPartitions",
    "pandas_udf",
    "udf",
}

# The documented exceptions: (module path, enclosing function, kind).
# Every entry is a per-group sequential recurrence, an opaque-bytes
# parser, or a Unicode normalizer — things Catalyst expressions
# genuinely cannot express (or, for the ema/finance families, the
# documented escape hatch behind a codegen fast path).
ALLOWED = {
    # user-facing escape hatches (riptable FastArray.apply / Dataset.apply
    # parity; reference rt_dataset.py apply surface) — Arrow-batched.
    ("riptable_spark/dataset.py", "apply_rows", "mapInPandas"),
    ("riptable_spark/operators/apply.py", "fa_apply", "mapInPandas"),
    # grouped_apply is THE grouped-UDF entry point for every per-group
    # sequential recurrence (ema/finance/apply/isotonic/elo/packing
    # families — no closed form; codegen fast paths stay the default
    # where they exist). It replaces groupBy().applyInPandas with one
    # key-sorted mapInPandas whose runner slices Arrow batches at
    # key-change boundaries: identical per-group semantics, ~10× less
    # fixed per-group overhead (round 6, "grouped_apply" optimization).
    ("riptable_spark/operators/apply.py", "grouped_apply", "mapInPandas"),
    # partition-local union-find over a MEASURED ≤500k-edge graph (one
    # Arrow task replaces the whole min-label propagation loop; big
    # graphs keep the pure-Spark shuffle loop). Transitive closure is a
    # sequential fixed point Catalyst cannot express without the round
    # loop this path exists to avoid.
    ("riptable_spark/operators/graph.py", "connected_components", "mapInPandas"),
    # opaque-bytes parsers (multimodal columns; image/audio libs absent —
    # format headers parsed in numpy, stub decode documented).
    ("riptable_spark/operators/multimodal.py", "audio_features", "mapInPandas"),
    ("riptable_spark/operators/multimodal.py", "decode_audio", "mapInPandas"),
    ("riptable_spark/operators/multimodal.py", "decode_audio_samples", "mapInPandas"),
    ("riptable_spark/operators/multimodal.py", "decode_images", "mapInPandas"),
    ("riptable_spark/operators/multimodal.py", "decode_pixels", "mapInPandas"),
    ("riptable_spark/operators/multimodal.py", "decode_video", "mapInPandas"),
    ("riptable_spark/operators/multimodal.py", "extract_features_raw", "mapInPandas"),
    ("riptable_spark/operators/multimodal.py", "extract_features_stub", "mapInPandas"),
    ("riptable_spark/operators/multimodal.py", "frame_sample_raw", "mapInPandas"),
    ("riptable_spark/operators/multimodal.py", "frame_sample_stub", "mapInPandas"),
    ("riptable_spark/operators/multimodal.py", "resize_images_raw", "mapInPandas"),
    # Unicode NFC: Spark SQL has no normalizer; DuckDB-parity pandas UDF.
    ("riptable_spark/operators/text.py", "normalize_nfc", "pandas_udf"),
    # candidate-pair cosine verify (lsh_dedup_pairs): non-deterministic
    # BY DESIGN (guide §4.4 — stops the optimizer duplicating the score
    # into the pushed filter; q114's plan evaluated the interpreted dot
    # fold twice per pair), Arrow-vectorized, bit-identity pinned by
    # test_cosine_pair_udf_bit_identity.
    ("riptable_spark/operators/similarity.py", "_cosine_pair_udf", "pandas_udf"),
    # deterministic multimodal fixture synthesis inside query defs
    # (test-data generation, not an operator hot path).
    ("riptable_spark/queries8.py", "q142", "mapInPandas"),
    ("riptable_spark/queries8.py", "synthesize_audio", "mapInPandas"),
    ("riptable_spark/queries8.py", "synthesize_images", "mapInPandas"),
    ("riptable_spark/queries8.py", "synthesize_video", "mapInPandas"),
    ("riptable_spark/queries9.py", "q181", "mapInPandas"),
    ("riptable_spark/queries9.py", "q182", "mapInPandas"),
    ("riptable_spark/queries10.py", "q201", "mapInPandas"),
    # custom stateful streaming operator (Structured Streaming's
    # documented route for arbitrary per-key state).
    (
        "riptable_spark/streaming/windows.py",
        "stateful_user_totals",
        "applyInPandasWithState",
    ),
}


def _census() -> set[tuple[str, str, str]]:
    root = pathlib.Path(__file__).resolve().parent.parent / "riptable_spark"
    sites: set[tuple[str, str, str]] = set()
    for p in sorted(root.rglob("*.py")):
        tree = ast.parse(p.read_text())
        rel = str(p.relative_to(root.parent))
        stack: list[str] = []

        class V(ast.NodeVisitor):
            def visit_FunctionDef(self, node):
                stack.append(node.name)
                self.generic_visit(node)
                stack.pop()

            visit_AsyncFunctionDef = visit_FunctionDef

            def visit_Call(self, node):
                f = node.func
                name = None
                if isinstance(f, ast.Attribute) and f.attr in KINDS:
                    name = f.attr
                elif isinstance(f, ast.Name) and f.id in KINDS:
                    name = f.id
                if name:
                    sites.add((rel, stack[-1] if stack else "<module>", name))
                self.generic_visit(node)

        V().visit(tree)
    return sites


def test_python_row_path_sites_match_documented_inventory():
    actual = _census()
    undocumented = actual - ALLOWED
    stale = ALLOWED - actual
    assert not undocumented, (
        "Python-row-path call sites not in the documented allowlist "
        f"(add WITH justification or rewrite JVM-side): {sorted(undocumented)}"
    )
    assert not stale, f"allowlist entries no longer in source: {sorted(stale)}"


def test_no_row_at_a_time_udf_anywhere():
    """Row-at-a-time F.udf is banned outright — every allowed site is
    Arrow-batched (pandas_udf / *InPandas)."""
    assert not {s for s in _census() if s[2] == "udf"}


def test_no_mappartitions_anywhere():
    """RDD mapPartitions would bypass both Catalyst and Arrow — none
    exist and none may appear."""
    assert not {s for s in _census() if s[2] == "mapPartitions"}


def test_no_duplicate_test_basenames():
    """A new test file written with an existing file's name silently
    clobbers it (it happened: the round-3 batch-20 hand cases were lost
    to a same-name round-4 file and had to be restored from git).  Any
    future tests/ subdirectory must not reuse a basename either."""
    tests_dir = pathlib.Path(__file__).resolve().parent
    names: dict[str, list[str]] = {}
    for p in tests_dir.rglob("test_*.py"):
        names.setdefault(p.name, []).append(str(p.relative_to(tests_dir)))
    dups = {k: v for k, v in names.items() if len(v) > 1}
    assert not dups, f"duplicate test basenames: {dups}"
