"""Unit tests for pure kernel functions (SURVEY.md §5 test plan item 2)."""

import pytest

from readability_php_spark.config import Configuration
from readability_php_spark.dom import parse_html
from readability_php_spark.kernel import Readability, extract
from readability_php_spark.kernel.metadata import (
    get_article_title,
    get_path_info,
    to_absolute_uri,
)
from readability_php_spark.kernel.nodeutil import (
    get_class_weight,
    get_link_density,
    get_row_and_column_count,
)

URL = "http://fakehost/test/test.html"


def doc(html):
    return parse_html(html)


class TestToAbsoluteURI:
    # src/Readability.php:571-605 branch-for-branch
    d = doc("<html><body><p>x</p></body></html>")

    def t(self, uri):
        return to_absolute_uri(self.d, URL, uri)

    def test_absolute_passthrough(self):
        assert self.t("https://a.b/c") == "https://a.b/c"

    def test_scheme_relative(self):
        assert self.t("//cdn.x/y.png") == "http://cdn.x/y.png"

    def test_root_relative(self):
        assert self.t("/img/a.png") == "http://fakehost/img/a.png"

    def test_dot_slash(self):
        assert self.t("./a.png") == "http://fakehost/test/a.png"

    def test_hash_passthrough(self):
        assert self.t("#frag") == "#frag"

    def test_plain_relative(self):
        assert self.t("a.png") == "http://fakehost/test/a.png"

    def test_base_override_absolute_path(self):
        d = doc('<html><head><base href="/base/"></head><body><p>x</p></body></html>')
        assert to_absolute_uri(d, URL, "a.png") == "http://fakehost/base/a.png"

    def test_base_relative_appends(self):
        d = doc('<html><head><base href="sub"></head><body><p>x</p></body></html>')
        assert to_absolute_uri(d, URL, "a.png") == "http://fakehost/test/sub/a.png"


class TestArticleTitle:
    def test_separator_keeps_left(self):
        d = doc("<html><body><p>x</p></body></html>")
        t = get_article_title(d, "Actual Long Article Title Here - Site Name")
        assert t == "Actual Long Article Title Here"

    def test_short_left_restores_original(self):
        d = doc("<html><body><p>x</p></body></html>")
        # PHP quirk chain: cut-end keeps the trailing space ('Tiny One '),
        # preg_split counts the empty tail → 3 words → the <3 branch does
        # NOT fire; the final ≤4-word guard then restores the original
        t = get_article_title(d, "Tiny One - The Full Site Name Here")
        assert t == "Tiny One - The Full Site Name Here"

    def test_colon_no_heading_match(self):
        d = doc("<html><body><p>x</p></body></html>")
        t = get_article_title(d, "Site: The Real Article Title Words")
        assert t == "The Real Article Title Words"


class TestClassWeight:
    def test_positive_and_negative(self):
        d = doc('<div class="article-body" id="sidebar">x</div>')
        el = d.get_elements_by_tag_name("div")[0]
        # class: positive(+25); id: negative(-25) → 0
        assert get_class_weight(el) == 0

    def test_double_positive(self):
        d = doc('<div class="content" id="main-story">x</div>')
        el = d.get_elements_by_tag_name("div")[0]
        assert get_class_weight(el) == 50


class TestLinkDensity:
    def test_zero_without_links(self):
        d = doc("<div>plain text only here</div>")
        assert get_link_density(d.get_elements_by_tag_name("div")[0]) == 0

    def test_half(self):
        d = doc('<div>12345<a href="#">12345</a></div>')
        assert get_link_density(d.get_elements_by_tag_name("div")[0]) == 0.5


class TestRowColumnCount:
    def test_rowspan_ignored_php_quirk(self):
        # X6: rowspan/colspan values IGNORED (NodeTrait.php:351-359)
        d = doc('<table><tr rowspan="3"><td colspan="5">a</td><td>b</td></tr>'
                "<tr><td>c</td></tr></table>")
        t = d.get_elements_by_tag_name("table")[0]
        assert get_row_and_column_count(t) == (2, 2)

    def test_th_not_counted(self):
        d = doc("<table><tr><th>h</th><td>a</td></tr></table>")
        t = d.get_elements_by_tag_name("table")[0]
        assert get_row_and_column_count(t) == (1, 1)


def test_normalize_entities_roundtrip():
    cfg = Configuration(normalize_entities=True, article_byline=True)
    body = ("<p>café & résumé, with plenty of additional words, "
            "commas, and sentences to clear the scoring threshold nicely." + " more words,"*40 + "</p>")
    r = extract(f"<html><body><div>{body}</div></body></html>", cfg)
    assert r.error is None
    assert "café" in r.extracted_text and "résumé" in r.extracted_text


def test_retry_flag_relaxation_attempts():
    # content hidden behind an unlikely class → found on attempt 2
    content = "<p>" + "Real article sentence, with commas, goes here. " * 30 + "</p>"
    html = f'<html><body><div class="sidebar">{content}</div></body></html>'
    r = extract(html, Configuration(article_byline=True))
    assert r.error is None
    assert r.attempts >= 2
    assert "Real article sentence" in r.extracted_text


@pytest.mark.requires_reference
def test_composite_render_tostring():
    """S6 — __toString() (src/Readability.php:1680-1683): the rendered
    composite is exactly <h1>{title}</h1>{content} over a golden fixture."""
    src = open(
        "/root/reference/test/test-pages/001/source.html", encoding="utf-8"
    ).read()
    r = extract(src, Configuration(article_byline=True, fix_relative_urls=True))
    assert r.error is None and r.title and r.content_html
    assert str(r) == f"<h1>{r.title}</h1>{r.content_html}"
    # null fields render as '' (PHP sprintf semantics)
    from readability_php_spark.kernel.readability import ParseResult

    assert str(ParseResult()) == "<h1></h1>"


def test_configuration_logger_injection():
    """test/ConfigurationTest.php logger parity: an injected logger is
    retrievable and receives the reference's parse-lifecycle messages; the
    default is a no-op null logger (src/Configuration.php:107-124)."""
    assert Configuration().get_logger().info("x") is None  # null logger

    class Capture:
        def __init__(self):
            self.lines = []
        def debug(self, msg, *a): self.lines.append(msg % a if a else msg)
        info = warning = error = critical = debug

    cap = Capture()
    cfg = Configuration(article_byline=True, logger=cap)
    assert cfg.get_logger() is cap
    content = "<p>" + "Real sentence, with commas, goes right here. " * 40 + "</p>"
    r = extract(f"<html><body><div>{content}</div></body></html>", cfg)
    assert r.error is None
    joined = "\n".join(cap.lines)
    assert "*** Starting parse process..." in joined
    assert "[Loading] Loaded HTML successfully." in joined
    assert "*** Parse successful :)" in joined
    # failure path logs the reference's emergency message
    cap2 = Capture()
    extract("<html>", Configuration(logger=cap2))
    assert any("No body tag present" in ln for ln in cap2.lines)
