"""Direct A/B parity: run OUR pure functions and THE REFERENCE'S OWN CODE
(/root/reference/rag/nlp, imported with its asset-blocked deps stubbed)
side by side on generated inputs. This is the strongest parity evidence
available in-sandbox — not fixtures we wrote, but the reference executing.

The tiktoken stub routes BOTH sides through our deterministic token
counter (the one documented deviation), so token-budget boundaries agree
by construction and everything else must agree by implementation."""

import random
import sys
import types

import pytest

sys.path.insert(0, "tests")
import refstubs  # noqa: E402

pytestmark = refstubs.requires_reference


@pytest.fixture(scope="module")
def ref():
    sys.path.insert(0, "tests")
    import refstubs

    return refstubs.load_ref_nlp()


def _section_corpus(seed: int, n: int = 40) -> list[str]:
    rng = random.Random(seed)
    makers = [
        lambda i: f"第{'一二三四五六七八九十'[i % 10]}章 标题{i}",
        lambda i: f"{i + 1}. Numbered heading {i}",
        lambda i: f"{i + 1}.{(i % 3) + 1} Sub heading",
        lambda i: f"({i + 1}) bracket item",
        lambda i: f"plain prose sentence number {i} with several words.",
        lambda i: f"短句{i}。",
        lambda i: "key point: " + "word " * rng.randint(1, 20),
        lambda i: str(rng.randint(0, 999)),
        lambda i: "",
    ]
    return [rng.choice(makers)(i) for i in range(n)]


@pytest.mark.parametrize("seed", range(12))
def test_bullets_category_ab(ref, seed):
    from ragflow_spark.core.patterns import bullets_category

    secs = _section_corpus(seed)
    assert bullets_category(secs) == ref.bullets_category(secs)


@pytest.mark.parametrize("seed", range(12))
def test_not_bullet_ab(ref, seed):
    from ragflow_spark.core.patterns import not_bullet

    for s in _section_corpus(seed):
        assert not_bullet(s) == bool(ref.not_bullet(s)), repr(s)


@pytest.mark.parametrize("seed", range(8))
def test_qbullets_category_ab(ref, seed):
    from ragflow_spark.core.patterns import qbullets_category

    rng = random.Random(seed)
    secs = [
        rng.choice([
            f"{i + 1}. What is item {i}?",
            f"第{i + 1}问 这是什么？",
            f"QUESTION {i + 1}",
            f"plain answer text {i}",
        ])
        for i in range(20)
    ]
    assert qbullets_category(secs) == tuple(ref.qbullets_category(secs))


@pytest.mark.parametrize("seed", range(10))
def test_title_frequency_ab(ref, seed):
    from ragflow_spark.core.merges import title_frequency
    from ragflow_spark.core.patterns import bullets_category

    secs = [(t, "") for t in _section_corpus(seed) if t]
    bull = bullets_category([t for t, _ in secs])
    ours = title_frequency(bull, secs)
    theirs = ref.title_frequency(bull, secs)
    assert ours[0] == theirs[0]
    assert list(ours[1]) == list(theirs[1])


@pytest.mark.parametrize("seed", range(10))
def test_naive_merge_ab(ref, seed):
    from ragflow_spark.core.merges import naive_merge

    rng = random.Random(seed)
    secs = [
        (t, rng.choice(["", "@@1\t0.0\t1.0\t2.0\t3.0##"]))
        for t in _section_corpus(seed) if t
    ]
    for budget in (16, 128):
        ours = naive_merge(secs, budget, "\n。；！？")
        theirs = ref.naive_merge(secs, budget, "\n。；！？")
        assert ours == theirs, (budget, seed)


@pytest.mark.parametrize("seed", range(10))
def test_hierarchical_merge_ab(ref, seed):
    from ragflow_spark.core.merges import hierarchical_merge
    from ragflow_spark.core.patterns import bullets_category

    secs = [(t, "") for t in _section_corpus(seed) if t]
    bull = bullets_category([t for t, _ in secs])
    if bull < 0:
        pytest.skip("no bullet structure in this draw")
    ours = hierarchical_merge(bull, list(secs), 5)
    theirs = ref.hierarchical_merge(bull, list(secs), 5)
    assert [list(c) for c in ours] == [list(c) for c in theirs]


@pytest.mark.parametrize("seed", range(8))
def test_remove_contents_table_ab(ref, seed):
    from ragflow_spark.core.merges import remove_contents_table

    rng = random.Random(seed)
    secs = (
        [("intro text before contents", "")]
        + [("Contents", "")]
        + [(f"第{'一二三四五'[i]}章 ……… {i + 1}", "") for i in range(3)]
        + [("第一章 正文标题", "")]
        + [(t, "") for t in _section_corpus(seed, 10) if t]
    )
    a, b = [list(x) for x in secs], [list(x) for x in secs]
    a = [tuple(x) for x in a]
    b = [tuple(x) for x in b]
    ours, theirs = list(a), list(b)
    remove_contents_table(ours, eng=False)
    ref.remove_contents_table(theirs, eng=False)
    assert ours == theirs


@pytest.mark.parametrize("seed", range(8))
def test_make_colon_as_title_ab(ref, seed):
    from ragflow_spark.core.merges import make_colon_as_title

    rng = random.Random(seed)
    secs = [
        (rng.choice([
            "标题项：" + "内容句子。" * rng.randint(4, 12),
            "short: tail",
            "plain sentence with no colon at all " * 3,
        ]), "")
        for _ in range(12)
    ]
    ours, theirs = list(secs), list(secs)
    make_colon_as_title(ours)
    ref.make_colon_as_title(theirs)
    assert ours == theirs


# ------------------------------------------------- deepdoc parsers A/B

@pytest.fixture(scope="module")
def ref_parsers(ref):
    sys.path.insert(0, "tests")
    import refstubs

    refstubs.install_reference_stubs()
    sys.modules.setdefault("tika", types.ModuleType("tika"))
    sys.modules["tika"].parser = types.SimpleNamespace(
        from_buffer=lambda b: {"content": ""})
    from deepdoc.parser.json_parser import RAGFlowJsonParser
    from deepdoc.parser.markdown_parser import RAGFlowMarkdownParser
    from deepdoc.parser.txt_parser import RAGFlowTxtParser

    return RAGFlowTxtParser, RAGFlowMarkdownParser, RAGFlowJsonParser


@pytest.mark.parametrize("seed", range(8))
def test_txt_parser_ab(ref_parsers, seed):
    from ragflow_spark.core import txt as our_txt

    TxtP, _, _ = ref_parsers
    rng = random.Random(seed)
    frags = ["line one. second!", "short", "句子。下一句！", "a; b; c",
             "word " * rng.randint(1, 30), "`|`-delimited custom"]
    sample = "\n".join(rng.choice(frags) for _ in range(rng.randint(3, 25)))
    for budget, delim in ((32, "\n!?;。；！？"), (128, "\n。；！？")):
        a = TxtP.parser_txt(sample, budget, delim)
        b = our_txt.parse_txt(sample, budget, delim)
        assert [t for t, _ in a] == [t for t, _ in b], (seed, budget)


@pytest.mark.parametrize("seed", range(8))
def test_markdown_tables_ab(ref_parsers, seed):
    from ragflow_spark.core import markdown as our_md

    _, MdP, _ = ref_parsers
    rng = random.Random(seed)
    pieces = [
        "plain paragraph text",
        "| a | b |\n| - | - |\n| 1 | 2 |",
        "x | y\n-|-\n3 | 4",
        "# heading",
        "",
        "| lone | row |",
    ]
    doc = "\n".join(rng.choice(pieces) for _ in range(rng.randint(2, 12)))
    rem_r, tb_r = MdP(128).extract_tables_and_remainder(doc)
    rem_o, tb_o = our_md.extract_tables_and_remainder(doc)
    assert rem_r == rem_o
    assert tb_r == tb_o


@pytest.mark.parametrize("seed", range(8))
def test_json_splitter_ab(ref_parsers, seed):
    from ragflow_spark.core.jsonsplit import JsonSplitter

    _, _, JsonP = ref_parsers
    rng = random.Random(seed)

    def val(depth):
        if depth > 2 or rng.random() < 0.3:
            return rng.choice([rng.randint(0, 9999), "s" * rng.randint(1, 80),
                               True, None])
        if rng.random() < 0.5:
            return {f"k{i}": val(depth + 1) for i in range(rng.randint(1, 6))}
        return [val(depth + 1) for _ in range(rng.randint(1, 8))]

    import json as _json

    payload = _json.dumps({f"top{i}": val(0) for i in range(4)}).encode()
    for budget in (64, 256):
        assert JsonP(budget)(payload) == \
            JsonSplitter(budget).split_text_bytes(payload), (seed, budget)


# -------------------------------------------- end-to-end template A/B

@pytest.fixture(scope="module")
def ref_apps(ref_parsers):
    import rag.app.laws as ref_laws
    import rag.app.naive as ref_naive
    import rag.app.one as ref_one
    import rag.app.qa as ref_qa

    return {"naive": ref_naive, "one": ref_one, "laws": ref_laws,
            "qa": ref_qa}


def _noop(*a, **k):
    pass


TXT_SAMPLE = (
    "First sentence of the doc. Second one follows! A question? "
    "然后是中文句子。还有一句！\n"
) * 12


def test_naive_chunk_txt_ab(ref_apps):
    from ragflow_spark.core.templates import run_template

    cfg = {"chunk_token_num": 64, "delimiter": "\n!?。；！？"}
    docs = ref_apps["naive"].chunk(
        "sample.txt", binary=TXT_SAMPLE.encode(), lang="English",
        callback=_noop, parser_config=dict(cfg))
    ref_chunks = [d["content_with_weight"] for d in docs]
    ours = [c.chunk_text for c in run_template(
        "naive", TXT_SAMPLE.encode(), "txt", "English", cfg=cfg)]
    assert ref_chunks == ours


def test_naive_chunk_json_ab(ref_apps):
    import json as _json

    from ragflow_spark.core.templates import run_template

    payload = _json.dumps({
        "title": "doc", "items": [{"k": i, "text": "x" * 40}
                                  for i in range(30)],
    }).encode()
    cfg = {"chunk_token_num": 64}
    docs = ref_apps["naive"].chunk(
        "sample.json", binary=payload, lang="English",
        callback=_noop, parser_config=dict(cfg))
    ref_chunks = [d["content_with_weight"] for d in docs]
    ours = [c.chunk_text for c in run_template(
        "naive", payload, "json", "English", cfg=cfg)]
    assert ref_chunks == ours


def test_qa_chunk_csv_ab(ref_apps):
    from ragflow_spark.core.templates import run_template

    csv = ("What is A?\tA is the first letter.\n"
           "What is B?\tB follows A.\n"
           "not a pair line\n"
           "What is C?\tC is third.\n")
    docs = ref_apps["qa"].chunk("pairs.csv", binary=csv.encode(),
                                lang="English", callback=_noop)
    ref_chunks = [d["content_with_weight"] for d in docs]
    ours = [c.chunk_text for c in run_template(
        "qa", csv.encode(), "csv", "English")]
    assert ref_chunks == ours


def test_laws_chunk_txt_ab(ref_apps):
    from ragflow_spark.core.templates import run_template

    sample = "\n".join(
        [f"第{c}条 本条是关于第{c}项规则的规定。具体内容如下。"
         for c in "一二三四五"]
        + ["补充说明文字，属于上一条。"]
    ).encode()
    docs = ref_apps["laws"].chunk("law.txt", binary=sample, lang="Chinese",
                                  callback=_noop)
    ref_chunks = [d["content_with_weight"] for d in docs]
    ours = [c.chunk_text for c in run_template("laws", sample, "txt",
                                               "Chinese")]
    assert ref_chunks == ours


def test_one_chunk_txt_ab(ref_apps):
    from ragflow_spark.core.templates import run_template

    sample = ("Intro line one. Another sentence!\n"
              "Second paragraph here.\n" * 5).encode()
    docs = ref_apps["one"].chunk("one.txt", binary=sample, lang="English",
                                 callback=_noop)
    ref_chunks = [d["content_with_weight"] for d in docs]
    ours = [c.chunk_text for c in run_template("one", sample, "txt",
                                               "English")]
    assert ref_chunks == ours
