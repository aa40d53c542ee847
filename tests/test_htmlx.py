"""Unit + property tests for the HTML main-content kernel (htmlx.py)."""

import json

from hypothesis import given, settings
from hypothesis import strategies as st

from tableextraction_spark.fixtures.html_gen import (
    SENTINEL,
    expected_block_spans,
    gen_html_doc,
    plan_html_doc,
    render_html_doc,
)
from tableextraction_spark.htmlx import extract_main_spans, parse_html, table_to_json


def _texts(spans):
    return [s["text"] for s in spans if s["kind"] == "text"]


def test_basic_paragraphs_and_entities():
    spans = extract_main_spans(
        "<body><p>Hello   <b>world</b> &amp; friends.</p><p>Second &lt;p&gt;</p></body>"
    )
    assert _texts(spans) == ["Hello world & friends.", "Second <p>"]


def test_boilerplate_tags_stripped():
    html = (
        "<head><title>t</title><style>p{}</style><script>x</script></head>"
        "<body><nav><a href='#'>n1</a></nav><header>site</header>"
        "<p>keep me</p>"
        "<aside>side</aside><footer>foot</footer><form><input></form></body>"
    )
    assert _texts(extract_main_spans(html)) == ["keep me"]


def test_boiler_class_id_and_role_stripped():
    html = (
        "<div class='ad-slot'>buy</div><div id='main-sidebar'>s</div>"
        "<div role='navigation'><a href='#'>x</a></div>"
        "<div class='breadcrumbs'>a &gt; b</div><p>content</p>"
    )
    assert _texts(extract_main_spans(html)) == ["content"]


def test_link_density_strip_keeps_prose_links():
    # short all-link block → dropped; long prose with one link → kept
    linky = "<div>" + " ".join(f"<a href='/{i}'>link{i}</a>" for i in range(4)) + "</div>"
    words = " ".join(f"word{i}" for i in range(30))
    prose = f"<p>{words} and <a href='/x'>one link</a> inside.</p>"
    spans = extract_main_spans(linky + prose)
    assert len(_texts(spans)) == 1
    assert "one link" in _texts(spans)[0]


def test_img_and_implicit_text_runs():
    spans = extract_main_spans(
        "<div>before <b>image</b><img src='m-1'> after</div>"
    )
    assert [(s["kind"], s["text"], s["media_ref"]) for s in spans] == [
        ("text", "before image", ""),
        ("media", "", "m-1"),
        ("text", "after", ""),
    ]


def test_list_items_are_separate_blocks():
    spans = extract_main_spans("<ul><li>one two</li><li>three</li></ul>")
    assert _texts(spans) == ["one two", "three"]


def test_malformed_nesting_recovers():
    spans = extract_main_spans("<div><p>alpha<p>beta</div></em><p>gamma")
    assert _texts(spans) == ["alpha", "beta", "gamma"]


def test_table_simple_headers():
    t = parse_html(
        "<table><tr><th>A</th><th>B</th></tr>"
        "<tr><td>1</td><td>2</td></tr><tr><td>3</td><td>4</td></tr></table>"
    ).children[0]
    got = json.loads(table_to_json(t))
    assert got["columns"] == ["A", "B"]
    assert got["records"] == [["1", "2"], ["3", "4"]]
    assert got["headers"] == [
        {"text": "A", "children": []},
        {"text": "B", "children": []},
    ]


def test_table_colspan_group_header_tree():
    t = parse_html(
        "<table><thead>"
        "<tr><th rowspan='2'>A</th><th colspan='2'>G</th></tr>"
        "<tr><th>B</th><th>C</th></tr></thead>"
        "<tbody><tr><td>1</td><td>2</td><td>3</td></tr></tbody></table>"
    ).children[0]
    got = json.loads(table_to_json(t))
    assert got["columns"] == ["A", "G/B", "G/C"]
    assert got["headers"][1] == {
        "text": "G",
        "children": [
            {"text": "B", "children": []},
            {"text": "C", "children": []},
        ],
    }
    assert got["records"] == [["1", "2", "3"]]


def test_table_no_th_first_row_is_header():
    t = parse_html(
        "<table><tr><td>H1</td><td>H2</td></tr><tr><td>a</td><td>b</td></tr></table>"
    ).children[0]
    got = json.loads(table_to_json(t))
    assert got["columns"] == ["H1", "H2"]
    assert got["records"] == [["a", "b"]]


def test_empty_table_is_skipped():
    assert extract_main_spans("<p>x</p><table></table>") == [
        {"kind": "text", "text": "x", "media_ref": ""}
    ]


@settings(max_examples=60, deadline=None)
@given(st.integers(min_value=0, max_value=100_000))
def test_fixture_golden_equality(doc_num):
    """Parser output == plan-derived goldens, for any fixture document."""
    plan = plan_html_doc(doc_num)
    got = extract_main_spans(render_html_doc(plan, doc_num))
    assert got == expected_block_spans(plan)


@settings(max_examples=60, deadline=None)
@given(st.integers(min_value=0, max_value=100_000))
def test_no_sentinel_leak(doc_num):
    """No boilerplate sentinel ever reaches an output span — independent of
    the goldens (a wrong-but-agreeing plan would still fail here)."""
    plan = plan_html_doc(doc_num)
    for s in extract_main_spans(render_html_doc(plan, doc_num)):
        assert SENTINEL not in s["text"]
        assert SENTINEL not in s["media_ref"]


def test_gen_html_doc_shapes():
    doc, exp = gen_html_doc(7)
    assert doc["doc_id"] == exp["doc_id"] == "hdoc-000007"
    kinds = {s["kind"] for s in doc["spans"]}
    assert "html" in kinds
    assert all(s["offset"] == i for i, s in enumerate(doc["spans"]))
    assert all(s["offset"] == i for i, s in enumerate(exp["spans"]))
    assert all(s["kind"] != "html" for s in exp["spans"])


@settings(max_examples=60, deadline=None)
@given(st.integers(min_value=0, max_value=100_000))
def test_fast_tokenizer_matches_stdlib_builder(doc_num):
    """The regex tokenizer and the stdlib html.parser builder produce
    identical spans for any fixture document (differential oracle).
    (Manual swap: hypothesis forbids function-scoped fixtures like
    monkeypatch inside @given.)"""
    import tableextraction_spark.htmlx as hx

    html = render_html_doc(plan_html_doc(doc_num), doc_num)
    fast = extract_main_spans(html)
    real = hx.parse_html
    hx.parse_html = hx.parse_html_stdlib
    try:
        assert fast == extract_main_spans(html)
    finally:
        hx.parse_html = real


def test_fast_tokenizer_matches_stdlib_adversarial(monkeypatch):
    import tableextraction_spark.htmlx as hx

    cases = [
        "<p>a<b>b</p>c",
        "<!DOCTYPE html><!-- c --><p>x &amp; y</p>",
        "<div class='a\"b'><p title=\"x>y\">z</p></div>",
        "<script>if (a<b && c>d) { '</div>' }</script><p>keep</p>",
        "<style>a>b{}</style><p>s</p>",
        "<table><tr><td>1<td>2<tr><td>3</table>",
        "<ul><li>a<li>b</ul>",
        "<p>unclosed <em>emph",
        "text only, no tags &lt;p&gt;",
        "<img src='x'/><br><hr><p>after</p>",
        "<P CLASS='Big'>UPPER</P>",
        "<div><div><div>deep</div></div></div>trail",
        "<textarea><p>not a tag</p></textarea><p>real</p>",
    ]
    for c in cases:
        fast = extract_main_spans(c)
        monkeypatch.setattr(hx, "parse_html", hx.parse_html_stdlib)
        ref = extract_main_spans(c)
        monkeypatch.undo()
        assert fast == ref, c


# --- regression tests for the round-2 self-review findings ---


def _both(markup):
    import tableextraction_spark.htmlx as hx

    fast = extract_main_spans(markup)
    real = hx.parse_html
    hx.parse_html = hx.parse_html_stdlib
    try:
        ref = extract_main_spans(markup)
    finally:
        hx.parse_html = real
    return fast, ref


def test_rawtext_close_requires_name_boundary():
    """</scripty> must NOT close a <script>: a prefix-find leaked script
    text into main content and broke stdlib equivalence."""
    fast, ref = _both("<script>var s = '</scripty>'; evil()</script><p>keep</p>")
    assert fast == ref == [{"kind": "text", "text": "keep", "media_ref": ""}]


def test_unquoted_trailing_slash_is_not_selfclosing():
    """<a href=/x/> — HTML5 keeps the '/' in the unquoted value; treating it
    as self-closing un-anchored the link text and defeated the density strip."""
    links = "".join(f"<a href=/p{i}/>rel {i}</a> " for i in range(4))
    prose = "<p>" + " ".join(f"w{i}" for i in range(30)) + "</p>"
    fast, ref = _both(f"<div class='x'>{links}</div>{prose}")
    assert fast == ref
    assert len(fast) == 1  # link list dropped, prose kept


def test_media_nested_in_inline_wrapper_surfaces_in_order():
    fast, ref = _both("<p>text <span><img src='x.png'></span> more</p>")
    assert fast == ref == [
        {"kind": "text", "text": "text", "media_ref": ""},
        {"kind": "media", "text": "", "media_ref": "x.png"},
        {"kind": "text", "text": "more", "media_ref": ""},
    ]
    fast, ref = _both(
        "<figure><a href='#'><img src='z'></a><figcaption>cap</figcaption></figure>"
    )
    assert fast == ref
    assert [s["kind"] for s in fast] == ["media", "text"]


def test_header_alignment_without_rowspan():
    """Row-2 header cells fill the column slots not occupied by rowspan≥2
    cells — a blind zip grafted the wrong children under a colspan group."""
    t = parse_html(
        "<table><tr><th>A</th><th colspan='2'>G</th></tr>"
        "<tr><th>a</th><th>b</th><th>c</th></tr>"
        "<tr><td>1</td><td>2</td><td>3</td></tr></table>"
    ).children[0]
    got = json.loads(table_to_json(t))
    assert got["columns"] == ["A/a", "G/b", "G/c"]
    assert got["records"] == [["1", "2", "3"]]


def test_three_header_rows_demote_not_drop():
    t = parse_html(
        "<table><tr><th>A</th></tr><tr><th>B</th></tr>"
        "<tr><th>C</th></tr><tr><td>x</td></tr></table>"
    ).children[0]
    got = json.loads(table_to_json(t))
    assert got["columns"] == ["A/B"]
    assert got["records"] == [["C"], ["x"]]  # row 3 demoted, data kept


def test_null_src_offset_isolated_per_row():
    """NaN offset: no task kill, and the loss is an OBSERVABLE error row —
    a sentinel offset would silently name no span."""
    import pandas as pd

    from tableextraction_spark.operators.html_extract import _parse_batches

    pdf = pd.DataFrame(
        {"doc_id": ["d1", "d2"], "src_offset": [float("nan"), 0],
         "html": ["<p>x</p>", "<p>y</p>"]}
    )
    out = pd.concat(list(_parse_batches([pdf])))
    errs = out[out["error"].notna()]
    assert list(errs["doc_id"]) == ["d1"] and list(errs["obj_no"]) == [-1]
    ok = out[out["error"].isna()]
    assert list(ok["text"]) == ["y"]


def test_bare_attribute_before_selfclose_still_selfcloses():
    """<a rel/> IS self-closing (bare attribute name) while <a href=/x/> is
    not (unquoted value) — both must match the stdlib oracle."""
    fast, ref = _both(
        "<div><a rel/>short nav link</a></div>"
        "<p>" + " ".join(f"w{i}" for i in range(30)) + "</p>"
    )
    assert fast == ref
    assert any("short nav link" in s["text"] for s in fast)  # plain text, kept
    fast, ref = _both("<p><a href= />v</a> " + " ".join(f"w{i}" for i in range(30)) + "</p>")
    assert fast == ref


def test_rowspan_colspan_header_occupies_all_its_columns():
    """A row1 cell with colspan>1 AND rowspan≥2 spans both header rows: it has
    no row2 children, so it's a flat multi-column header (one path per column),
    never a group with fabricated empty-named children."""
    t = parse_html(
        "<table><tr><th rowspan='2' colspan='2'>A</th><th colspan='2'>G</th></tr>"
        "<tr><th>b</th><th>c</th></tr>"
        "<tr><td>1</td><td>2</td><td>3</td><td>4</td></tr></table>"
    ).children[0]
    got = json.loads(table_to_json(t))
    assert got["columns"] == ["A", "A", "G/b", "G/c"]
    assert got["headers"][0] == {"text": "A", "children": []}
    assert got["records"] == [["1", "2", "3", "4"]]


def test_hostile_colspan_is_clamped():
    """colspan='99999999' must not drive the column-slot loops into an
    unbounded burn (HTML-spec clamp: colspan ≤ 1000, rowspan ≤ 65534) — one
    hostile page must never stall a whole Spark task."""
    import time

    html = (
        "<table><tr><th colspan='99999999'>Big</th></tr>"
        "<tr><th>Sub</th></tr><tr><td>x</td></tr></table>"
    )
    t0 = time.monotonic()
    got = json.loads(table_to_json(parse_html(html).children[0]))
    assert time.monotonic() - t0 < 10
    from tableextraction_spark.htmlx import TABLE_COLS_MAX

    assert len(got["columns"]) <= TABLE_COLS_MAX
    assert got["columns"][0] == "Big/Sub"

    # hostile rowspan too
    html = (
        "<table><tr><th rowspan='99999999'>R</th><th>B</th></tr>"
        "<tr><th>S</th></tr><tr><td>1</td><td>2</td></tr></table>"
    )
    got = json.loads(table_to_json(parse_html(html).children[0]))
    assert got["columns"][0] == "R"


def test_hostile_many_wide_cells_truncated():
    """Total column slots are capped at TABLE_COLS_MAX even when each cell's
    colspan is individually legal (e.g. 500 cells × 1000 colspan)."""
    import time

    from tableextraction_spark.htmlx import TABLE_COLS_MAX

    head = "".join(f"<th colspan='1000'>h{i}</th>" for i in range(500))
    body = "".join("<td>v</td>" for _ in range(10))
    html = f"<table><tr>{head}</tr><tr><th>s</th></tr><tr>{body}</tr></table>"
    t0 = time.monotonic()
    got = json.loads(table_to_json(parse_html(html).children[0]))
    assert time.monotonic() - t0 < 10
    assert len(got["columns"]) == TABLE_COLS_MAX
    assert got["records"][0][:10] == ["v"] * 10


# --- outlink harvesting ---


def test_extract_links_all_anchors_in_order():
    from tableextraction_spark.htmlx import extract_links

    links = extract_links(
        "<nav><a href='/a'>Home</a></nav><p>x <a href='/b'><b>two  words</b></a></p>"
        "<script>var s = \"<a href='/no'>never</a>\";</script>"
        "<a name='anchor'>no href</a><footer><a href='/c'></a></footer>"
    )
    assert links == [
        {"href": "/a", "text": "Home", "norm": "/a"},
        {"href": "/b", "text": "two words", "norm": "/b"},
        {"href": "/c", "text": "", "norm": "/c"},
    ]


@settings(max_examples=60, deadline=None)
@given(st.integers(min_value=0, max_value=100_000))
def test_extract_links_matches_renderer_goldens(doc_num):
    from tableextraction_spark.fixtures.html_gen import expected_links
    from tableextraction_spark.htmlx import extract_links

    html = render_html_doc(plan_html_doc(doc_num), doc_num)
    assert extract_links(html) == expected_links(doc_num)


@settings(max_examples=40, deadline=None)
@given(st.integers(min_value=0, max_value=100_000))
def test_extract_links_fast_matches_stdlib(doc_num):
    import tableextraction_spark.htmlx as hx

    html = render_html_doc(plan_html_doc(doc_num), doc_num)
    fast = hx.extract_links(html)
    real = hx.parse_html
    hx.parse_html = hx.parse_html_stdlib
    try:
        assert fast == hx.extract_links(html)
    finally:
        hx.parse_html = real


def test_unclosed_anchor_implies_close():
    """HTML5: a new <a> closes an open <a> — a mis-nested anchor must not
    swallow the following link (both parsers agree)."""
    from tableextraction_spark.htmlx import extract_links

    fast, ref = _both('<p><a href="/1">one <a href="/2">two</a></p>')
    assert fast == ref  # span level
    links = extract_links('<p><a href="/1">one <a href="/2">two</a></p>')
    assert links == [
        {"href": "/1", "text": "one", "norm": "/1"},
        {"href": "/2", "text": "two", "norm": "/2"},
    ]


def test_anchor_text_keeps_boiler_classed_spans():
    """Visible anchor text survives even when wrapped in a boilerplate-
    classed span — only never-rendered DROP_TAGS are skipped inside <a>."""
    from tableextraction_spark.htmlx import extract_links

    links = extract_links(
        '<a href="/x"><span class="social-share">Share</span></a>'
        '<a href="/y"><span class="promo">Sale</span> now'
        "<script>junk()</script></a>"
    )
    assert links == [
        {"href": "/x", "text": "Share", "norm": "/x"},
        {"href": "/y", "text": "Sale now", "norm": "/y"},
    ]


# --- crawl-frontier URL normalization ---


def test_normalize_url_cases():
    from tableextraction_spark.htmlx import normalize_url as nu

    base = "HTTPS://Ex.Example.COM:443/sub/dir/index.html"
    assert nu("/0", base) == "https://ex.example.com/0"
    assert nu("../up/page.html#sec", base) == "https://ex.example.com/sub/up/page.html"
    assert nu("other.html?a=1#x", base) == "https://ex.example.com/sub/dir/other.html?a=1"
    assert nu("HTTP://Other.Example.ORG:80/p/?q=1#f") == "http://other.example.org/p/?q=1"
    assert nu("http://other.example.org/p/?q=1") == "http://other.example.org/p/?q=1"
    assert nu("https://Host.COM") == "https://host.com/"  # empty path -> /
    assert nu("https://host.com:8080/x") == "https://host.com:8080/x"  # non-default port kept
    assert nu("mailto:Contact@Example.com", base) == "mailto:Contact@Example.com"
    assert nu("  /sp  ", base) == "https://ex.example.com/sp"
    assert nu("/rel#frag") == "/rel"  # no base: relative survives, frag stripped


def test_extract_links_resolves_base_href():
    from tableextraction_spark.htmlx import extract_links

    links = extract_links(
        '<html><head><base href="HTTPS://S.Example.COM:443/d/x.html"></head>'
        '<body><a href="/a">A</a> <a href="b#f">B</a></body></html>'
    )
    assert [ln["norm"] for ln in links] == [
        "https://s.example.com/a",
        "https://s.example.com/d/b",
    ]


def test_extract_links_bad_href_degrades_not_poisons():
    from tableextraction_spark.htmlx import extract_links

    links = extract_links('<a href="http://[::bad">x</a><a href="/ok">y</a>')
    assert links[0]["norm"] == "http://[::bad"  # raw fallback, no raise
    assert links[1]["norm"] == "/ok"


def test_fixture_norm_probe_pair_collapses_under_norm_dedup():
    """Every fixture doc footer carries two raw-distinct anchors with one
    normalized URL: frontier dedup on `norm` must beat dedup on `href`,
    with and without a <base> (doc 0 has none; 1 and 2 do)."""
    from tableextraction_spark.fixtures.html_gen import expected_links

    for doc_num in (0, 1, 2):
        links = expected_links(doc_num)
        assert len({ln["norm"] for ln in links}) < len({ln["href"] for ln in links})
