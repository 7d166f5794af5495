"""Unit tests for the pure parsing/coercion functions (SURVEY.md §5.3)."""

import pytest

from pywdcollections_spark.functions.coerce import (
    clean_category_title,
    find_wikilink_mentions,
    image_extension_ok,
    integer_ok,
    normalize_named_coordinate,
    normalize_url,
    parse_coordinate_value,
    positional_coordinates,
    string_length_ok,
)
from pywdcollections_spark.functions.text_extract import extract_text
from pywdcollections_spark.functions.wikitemplates import parse_templates


class TestTokenizer:
    def test_simple_positional(self):
        [t] = parse_templates("{{Commonscat|Foo bar|Display}}")
        assert t["name"] == "Commonscat"
        assert t["params"] == ["Foo bar", "Display"]

    def test_named_params(self):
        [t] = parse_templates("{{Infobox cemetery|image=Foo.jpg|location=[[X]]}}")
        assert t["params"] == ["image=Foo.jpg", "location=[[X]]"]

    def test_nested_template_both_emitted(self):
        ts = parse_templates("{{a|x={{b|1}}}}")
        names = sorted(t["name"] for t in ts)
        assert names == ["a", "b"]
        outer = next(t for t in ts if t["name"] == "a")
        assert outer["params"] == ["x={{b|1}}"]

    def test_pipe_inside_wikilink_does_not_split(self):
        [t] = parse_templates("{{T|link=[[a|b]]}}")
        assert t["params"] == ["link=[[a|b]]"]

    def test_stray_braces_ignored(self):
        ts = parse_templates("foo {{ bar } baz {{Commonscat|X y z}} tail")
        assert [t["name"] for t in ts] == ["Commonscat"]

    def test_parser_function_skipped(self):
        assert parse_templates("{{#if:x|y}}") == []
        assert parse_templates("{{DISPLAYTITLE:x}}") == []

    def test_positional_before_named_ordering(self):
        # mirrors pywikibot templatesWithParams ordering
        [t] = parse_templates("{{T|name=x|posval}}")
        assert t["params"] == ["posval", "name=x"]

    def test_multiline_param(self):
        [t] = parse_templates("{{T|a=line1\nline2}}")
        assert t["params"] == ["a=line1\nline2"]

    def test_empty_text(self):
        assert parse_templates(None) == []
        assert parse_templates("") == []


class TestTextExtract:
    def test_round_trip_with_entities(self):
        text = 'braces {{T|a=1&b<c>"d"\'e\'}} & [[link]] &amp; tail'

        def esc(s):
            return (s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
                     .replace('"', "&quot;").replace("'", "&#39;"))
        html = ('<html><body><pre class="wikitext">' + esc(text) + "</pre></body></html>").encode()
        assert extract_text(html) == text

    def test_missing_payload(self):
        assert extract_text(b"<html><body>nope</body></html>") is None
        assert extract_text(None) is None


class TestWikilinks:
    def test_dotall_and_namespace_skip(self):
        # pywdcollections.py:204-209: non-greedy DOTALL; ':' targets skipped
        val = "[[File:x.jpg]] see [[Place\nOne]] and [[Two]]"
        assert find_wikilink_mentions(val) == ["Place\nOne", "Two"]

    def test_duplicates_kept(self):
        assert find_wikilink_mentions("[[A]][[A]]") == ["A", "A"]


class TestCoordinates:
    def test_named_decimal(self):
        assert normalize_named_coordinate("48.85/2.35") == "48.85|2.35|0"

    def test_named_dms_unicode(self):
        assert (normalize_named_coordinate("48°51′24″N 2°21′3″E")
                == "48/51/24/N|2/21/3/E|0")

    def test_positional_8_field(self):
        lat, lon = positional_coordinates(["48", "51", "24", "N", "2", "21", "3", "E"])
        assert (lat, lon) == ("48/51/24/N", "2/21/3/E")

    def test_positional_decimal(self):
        assert positional_coordinates(["48.85", "2.35"]) == ("48.85", "2.35")
        assert positional_coordinates(["48.85"]) == (None, None)

    def test_parse_decimal_fast_path(self):
        assert parse_coordinate_value("48.85|2.35|0") == (48.85, 2.35)
        assert parse_coordinate_value("48.85N|2.35E|0") == (48.85, 2.35)

    def test_parse_dms_bankers_rounding(self):
        # round(48 + 51/60 + 24/3600, 5) — Python round semantics (:1246)
        got = parse_coordinate_value("48/51/24/N|2/21/3/W|0")
        assert got == (round(48 + 51 / 60 + 24 / 3600, 5),
                       -round(2 + 21 / 60 + 3 / 3600, 5))

    def test_parse_rejects(self):
        assert parse_coordinate_value("%s|%s|0") is None   # reference defect value
        assert parse_coordinate_value("1|2") is None
        assert parse_coordinate_value("a/b/c/X|1/2/3/E|0") is None


class TestValidators:
    def test_url(self):
        assert normalize_url("https://example.org/x") == "https://example.org/x"
        assert normalize_url("www.example.org/x") == "http://www.example.org/x"
        assert normalize_url("url|https://example.net/1|name") == "https://example.net/1"
        assert normalize_url("bad7") is None
        assert normalize_url("http://a") is None  # len < 10

    def test_image_ext(self):
        assert image_extension_ok(18, "a.jpg")
        assert image_extension_ok(18, "a.JPEG")
        assert not image_extension_ok(18, "a.png")
        assert image_extension_ok(94, "a.svg")
        assert not image_extension_ok(94, "template a.svg")
        assert not image_extension_ok(94, "coa of x.png")

    def test_integer(self):
        assert integer_ok("123") and integer_ok(" 12 ") and integer_ok("-4")
        assert not integer_ok("12.5") and not integer_ok("about 12")

    def test_lengths(self):
        assert string_length_ok("75001", min_len=2, max_len=20)
        assert not string_length_ok("x", min_len=2)
        assert string_length_ok("abcd", exact_len=4)
        assert not string_length_ok("abc", exact_len=4)

    def test_category_cleanup(self):
        assert clean_category_title("Category:Foo {bar}") == "Foo bar"
        assert clean_category_title("a::b") == "a:b"


def test_blocked_fingerprint_matches_char_fold(spark):
    """Block-wise rolling hash == plain char-by-char fold, including
    docs longer than the block size and short/1-char docs."""
    import random as _r
    from pyspark.sql import functions as F
    from pywdcollections_spark.operators.textops import rolling_fingerprint
    rng = _r.Random(3)
    # 4096/8192: normalized length an EXACT block multiple — the split
    # emits a trailing empty chunk there, which must be dropped before
    # folding or the hash gains a spurious *31 (ADVICE r6, fixed r7)
    texts = ["a", "ab c", "x" * 5000, "x" * 4096, "x" * 8192, "y" * 12288,
             " ".join("w%d" % rng.randrange(50) for _ in range(3000))]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i long, text string")

    def py_fp(t, mod=1_000_000_007):
        import re
        norm = re.sub(r"\s+", " ", t.strip()).lower()
        h = 0
        for ch in norm:
            h = (h * 31 + ord(ch)) % mod
        return h

    got = {r["i"]: r["fp"] for r in
           df.select("i", rolling_fingerprint(F.col("text")).alias("fp")).collect()}
    assert got == {i: py_fp(t) for i, t in enumerate(texts)}


def test_w1_deterministic_key_order():
    """W1: derived prop/row orderings are deterministic across calls
    (the reference relies on dict order; we sort explicitly)."""
    from pywdcollections_spark.config import demo_config
    c1, c2 = demo_config(), demo_config()
    assert c1.template_map_rows() == c2.template_map_rows()
    for site in ("enwiki", "frwiki", "dewiki"):
        p = c1.harvested_props(site)
        assert p == sorted(set(p)) == c2.harvested_props(site)


def test_flexible_date_batch_model(spark):
    """flexible_date vs a datetime model over generated valid, shape-
    valid-calendar-invalid ('2021-02-30' must be NULL, not an ANSI
    crash), and junk inputs."""
    import random as _r
    from datetime import datetime
    from pyspark.sql import functions as F
    from pywdcollections_spark.operators.dates import flexible_date

    rng = _r.Random(5)
    cases = []
    for _ in range(120):
        y, m, d = rng.randint(1000, 2100), rng.randint(1, 12), rng.randint(1, 28)
        cases += [f"{y}", f"{y}-{m:02d}", f"{y}-{m:02d}-{d:02d}", f"  {y} "]
    cases += ["2021-02-30", "2021-04-31", "2020-02-29", "2019-02-29",
              "21-05", "2021-13", "2021-00-10", "abcd", "", "2021-1-5"]
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)],
                               "i long, s string")
    fd = flexible_date(F.col("s"))
    got = {r["i"]: (r["ts"], r["p"]) for r in
           df.select("i", fd["ts"].alias("ts"), fd["precision"].alias("p")).collect()}

    def model(c):
        c = c.strip()
        for fmt, prec, pad in (("%Y", 9, "-01-01"), ("%Y-%m", 10, "-01"),
                               ("%Y-%m-%d", 11, "")):
            if len(c) == {9: 4, 10: 7, 11: 10}[prec] and c.replace("-", "").isdigit():
                try:
                    return datetime.strptime(c + pad, "%Y-%m-%d"), prec
                except ValueError:
                    return None, None
        return None, None

    for i, c in enumerate(cases):
        exp_ts, exp_p = model(c)
        assert got[i] == (exp_ts, exp_p), f"{c!r}: {got[i]} != {(exp_ts, exp_p)}"


#: every code point Python's str.strip() removes (29 of them)
PY_SPACES = [chr(c) for c in range(0x110000) if chr(c).isspace()]


@pytest.fixture(scope="module")
def trimmed(spark):
    """python_trim over per-code-point inputs, one Spark job for all:
    {(code point, input): output}."""
    from pyspark.sql import functions as F
    from pywdcollections_spark.functions.udfs import python_trim

    cases = [(ch, v) for ch in PY_SPACES
             for v in (f"{ch}abc{ch}", f"{ch}{ch} a{ch}b \t{ch}", ch,
                       f"\u200b{ch}")]   # U+200B is not whitespace
    df = spark.createDataFrame(cases, "ch string, v string")
    return {(r["ch"], r["v"]): r["t"]
            for r in df.select("ch", "v", python_trim(F.col("v")).alias("t")).collect()}


@pytest.mark.parametrize("ch", PY_SPACES, ids=lambda ch: f"U+{ord(ch):04X}")
def test_python_trim_matches_str_strip(trimmed, ch):
    got = {v: t for (c, v), t in trimmed.items() if c == ch}
    assert len(got) == 4
    assert got == {v: v.strip() for v in got}
