"""PipelineRegistry API surface tests (filterRegistry.js:122-506 parity:
positional editing, enable/disable, hooks, stop-on-error policy, plugins)."""

import os

import pytest

from patent_decision_document_converter_spark.plans.registry import PipelineRegistry

from .conftest import JS_REFERENCE_DIR


def up(s: str) -> str:
    return s.upper()


def excl(s: str) -> str:
    return s + "!"


def boom(s: str) -> str:
    raise ValueError("step failed")


@pytest.fixture()
def reg():
    r = PipelineRegistry()
    r.register("p", [up, excl])
    return r


def test_apply_order_and_names(reg):
    assert reg.apply("p", "hi") == "HI!"
    assert [s.name for s in reg.get("p")] == ["up", "excl"]
    assert reg.names() == ["p"]


def test_insert_and_remove_at(reg):
    reg.insert("p", 1, lambda s: s + "-mid", step_name="mid")
    assert reg.apply("p", "x") == "X-mid!"
    removed = reg.remove_at("p", 1)
    assert removed.name == "mid"
    assert reg.apply("p", "x") == "X!"


def test_enable_disable(reg):
    reg.enable("p", "excl", False)
    assert reg.apply("p", "hi") == "HI"
    reg.enable("p", "excl", True)
    assert reg.apply("p", "hi") == "HI!"
    # compose honors enabled flags at composition time
    reg.enable("p", "up", False)
    assert reg.compose(["p"])("hi") == "hi!"


def test_stop_on_error_policies(reg):
    reg.insert("p", 1, boom)
    with pytest.raises(ValueError):
        reg.apply("p", "hi")
    # keep-value-and-continue (filterRegistry.js:453-462)
    assert reg.apply("p", "hi", stop_on_error=False) == "HI!"


def test_hooks_fire(reg):
    events = []
    reg.on_before_apply(lambda n, t: events.append(("before", n, t)))
    reg.on_after_apply(lambda n, t: events.append(("after", n, t)))
    reg.on_error(lambda n, s, e: events.append(("error", n, s)))
    reg.insert("p", 0, boom)
    reg.apply("p", "hi", stop_on_error=False)
    assert events == [("before", "p", "hi"), ("error", "p", "boom"), ("after", "p", "HI!")]


def test_use_plugin(reg):
    def plugin(registry):
        registry.register("plugged", [excl])

    reg.use(plugin)
    assert reg.apply("plugged", "a") == "a!"


def test_unregister(reg):
    reg.unregister("p")
    assert reg.names() == []


# ---------------------------------------------------------------------------
# step args / invoke args / apply_list (filterRegistry.js:68-77,304-314,426-445)
# ---------------------------------------------------------------------------


def test_step_args_dict_form():
    r = PipelineRegistry()
    r.register("p", [{"fn": lambda s, n: s * n, "name": "rep", "args": [3]}, up])
    assert r.apply("p", "ab") == "ABABAB"
    st = r.get("p")[0]
    assert st.name == "rep" and st.args == (3,)


def test_invoke_args_appended_after_step_args():
    seen = []

    def probe(s, *rest):
        seen.append(rest)
        return s

    r = PipelineRegistry()
    r.register("p", [{"fn": probe, "args": ["a", "b"]}, probe])
    r.apply("p", "x", "inv1", "inv2")
    # step args first, invoke args after (filterRegistry.js:431-445)
    assert seen == [("a", "b", "inv1", "inv2"), ("inv1", "inv2")]


def test_apply_list_adhoc():
    r = PipelineRegistry()
    got = r.apply_list([{"fn": lambda s, suf: s + suf, "args": ["!"]}, up], "hi")
    assert got == "HI!"
    # invoke args reach every step
    got = r.apply_list([lambda s, x: s + x], "a", "-z")
    assert got == "a-z"
    # disabled steps skipped, None folds to ""
    assert r.apply_list([{"fn": up, "enabled": False}, lambda s: None], "hi") == ""
    with pytest.raises(ValueError):
        r.apply_list([], "hi")


@pytest.mark.skipif(
    not os.path.isdir(JS_REFERENCE_DIR), reason="reference JS checkout not available"
)
def test_parameterized_pipeline_matches_reference_js():
    """Register a custom pipeline with a parameterized step (padHead count=2)
    and compare against the reference FilterRegistry running the SAME ad-hoc
    step list under node (applyList with step args)."""
    import json
    import subprocess

    from patent_decision_document_converter_spark.functions import widths
    from patent_decision_document_converter_spark.operators import mainstage

    texts = [
        "１．理由\nこれは本文です。\n\n２．むすび",
        "  indented\nＡＢＣ123\n　full-width lead",
        "",
    ]
    steps_js = [
        {"fn": "padHead", "args": [2]},
        {"fn": "fwNum"},
        {"fn": "hwAlpha"},
    ]
    reqs = [{"mode": "custom", "text": t, "steps": steps_js} for t in texts]
    expected = json.loads(
        subprocess.run(
            ["node", "tools/js_oracle.mjs"],
            input=json.dumps(reqs).encode(),
            capture_output=True,
            check=True,
        ).stdout
    )

    r = PipelineRegistry()
    r.register(
        "custom",
        [
            {"fn": mainstage.pad_head, "args": [2]},
            widths.fw_num,
            widths.hw_alpha,
        ],
    )
    for t, want in zip(texts, expected):
        assert r.apply("custom", t) == want
        # ad-hoc form must agree with the registered form
        assert (
            r.apply_list(
                [{"fn": mainstage.pad_head, "args": [2]}, widths.fw_num, widths.hw_alpha], t
            )
            == want
        )


def test_udtf_extract_refs_matches_parex():
    from patent_decision_document_converter_spark.functions import parex
    from patent_decision_document_converter_spark.plans.job import get_spark
    from patent_decision_document_converter_spark.plans.registry import register_sql_udtfs

    spark = get_spark(app_name="pytest-udtf", master="local[2]", shuffle_partitions=2)
    assert register_sql_udtfs(spark) == ["extract_refs"]

    text = "本願の【００２７】ないし【００３０】及び[0042]、図１、３-５を参照。"
    df = spark.createDataFrame([(1, text), (2, "no refs here")], "doc_id long, text string")
    df.createOrReplaceTempView("udtf_docs")
    rows = spark.sql(
        "SELECT d.doc_id, r.ref_type, r.num, r.pad_width "
        "FROM udtf_docs d, LATERAL extract_refs(d.text) r ORDER BY d.doc_id, r.ref_type, r.num"
    ).collect()
    paras, width, figs = parex.extract_refs(text)
    want = [(1, "figure", n, 0) for n in figs] + [(1, "paragraph", n, width) for n in paras]
    assert [(r["doc_id"], r["ref_type"], r["num"], r["pad_width"]) for r in rows] == want
    assert not [r for r in rows if r["doc_id"] == 2]  # zero rows for ref-free docs
