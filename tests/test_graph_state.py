"""Incremental connected components (the cc_labels state behind
`curate_append`): star-compressed CC equals batch CC over the full edge
history."""

from __future__ import annotations


def test_incremental_cc_star_compression(spark, tmp_path):
    """Incremental CC == batch CC over the full edge history at every step:
    new components appear, a later edge MERGES two old components under the
    global min label, isolated-so-far names persist in the roster, and
    redelivering an already-encoded batch changes nothing."""
    from smart_pdf_md_spark.plans.curation_incremental import update_cc_state

    run_dir = str(tmp_path / "cc")

    def e(pairs):
        return spark.createDataFrame(pairs, ["name_a", "name_b"])

    def lab(df):
        return {r.name: r.component for r in df.collect()}

    s1 = lab(update_cc_state(spark, run_dir, e([("b", "a"), ("d", "c")])))
    assert s1 == {"a": "a", "b": "a", "c": "c", "d": "c"}

    s2 = lab(update_cc_state(spark, run_dir, e([("x", "y")])))
    assert s2 == {**s1, "x": "x", "y": "x"}

    # the merge case: one edge joins the {a,b} and {c,d} components —
    # every member relabels to the GLOBAL min 'a'
    s3 = lab(update_cc_state(spark, run_dir, e([("b", "c")])))
    assert s3 == {"a": "a", "b": "a", "c": "a", "d": "a",
                  "x": "x", "y": "x"}

    # redelivery: already-encoded edges are a no-op
    s4 = lab(update_cc_state(spark, run_dir, e([("b", "c"), ("d", "c")])))
    assert s4 == s3

    # equivalence with one-shot batch CC over the full history
    from smart_pdf_md_spark.operators.cc import connected_components
    full = connected_components(
        e([("b", "a"), ("d", "c"), ("x", "y"), ("b", "c")]))
    assert {r.name: r.component for r in full.collect()} == s3
