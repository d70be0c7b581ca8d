"""JS-regex dialect routing (reference src/v4/pattern.js:18 compiles
``pattern`` with JavaScript ``new RegExp``): translatable JS spellings must
yield the reference's verdicts on every engine mode. The reference's
RegExp is FLAGLESS, so Annex-B legacy semantics apply: ``\\p``/``\\P``/
dangling ``\\u`` are identity escapes and non-quantifier braces are
literals — the translation reproduces exactly that reading."""

import json
import re

import pytest

from schema_fantasy_spark.columnar import compile_columnar
from schema_fantasy_spark.compiler.plan import SchemaCompileError, compile_schema
from schema_fantasy_spark.compiler.regex_dialect import (
    RegexDialectError,
    java_pattern,
    python_pattern,
)
from schema_fantasy_spark.engine import ValidationEngine


class TestTranslation:
    def test_common_core_passes_through(self):
        for p in [r"^[a-z]+", r"\d{3}-\d{4}", r"a|b", r"\u0041x", r"(?i)case",
                  r"[\]\[]", r"\\u\{literal", r"[.$]"]:
            assert java_pattern(p) == p

    def test_js_semantics_spelled_out(self):
        # '$' is end of input, '.' stops at JS line terminators, \s is
        # JS's whitespace class, \v is U+000B, \b is the ASCII boundary
        ws = (r"\t\n\x0B\f\r\x20\u00a0\u1680\u2000-\u200a"
              r"\u2028\u2029\u202f\u205f\u3000\ufeff")
        assert java_pattern(r"^[a-z]+$") == r"^[a-z]+\z"
        assert python_pattern(r"^[a-z]+$").pattern == r"^[a-z]+\Z"
        assert java_pattern("a.b") == r"a[^\n\r\u2028\u2029]b"
        assert java_pattern(r"\s\S") == "[" + ws + "][^" + ws + "]"
        assert java_pattern(r"[^\s-]") == "[^" + ws + "-]"
        assert java_pattern(r"[a\S]") == "(?:[a]|[^" + ws + "])"
        assert java_pattern(r"[^a\S]") == "(?:(?![a])[" + ws + "])"
        assert java_pattern(r"[\S^]") == "(?:[\\^]|[^" + ws + "])"
        assert java_pattern(r"\v") == r"\x0B"
        assert java_pattern(r"\bx") == r"(?:(?<=\w)(?!\w)|(?<!\w)(?=\w))x"

    def test_codepoint_escape_braces_annex_b(self):
        # \u{...} is a code-point escape ONLY under the u flag; the
        # reference's flagless new RegExp reads '\u' as an identity
        # escape, so {2} quantifies the literal 'u' and {GG} is a
        # literal brace run (Annex B) — the default translation must
        # reproduce exactly that reading
        assert python_pattern(r"\u{2}").fullmatch("uu")
        assert not python_pattern(r"\u{2}").fullmatch("u")
        assert python_pattern(r"\u{1F600}").fullmatch("u{1F600}")
        assert java_pattern(r"\u{2}") == "u{2}"
        assert java_pattern(r"\u{1F600}") == r"u\{1F600\}"
        # the unambiguous 4-hex spelling passes through
        assert java_pattern(r"\u0041") == r"\u0041"
        assert python_pattern(r"\u0041").search("A")

    def test_control_escape(self):
        assert java_pattern(r"a\cJb") == "a\\x0Ab"
        assert python_pattern(r"a\cJb").search("a\nb")

    def test_named_group(self):
        assert python_pattern(r"(?<y>\d{4})-\k<y>").search("1999-1999")
        assert java_pattern(r"(?<y>\d{4})") == r"(?<y>\d{4})"

    def test_lookbehind_not_mangled(self):
        assert java_pattern(r"(?<=a)b") == r"(?<=a)b"
        assert python_pattern(r"(?<=a)b").search("ab")

    def test_bare_nul(self):
        assert java_pattern("\\0x") == "\\x00x"
        assert java_pattern("\\07") == "\\x07"  # legacy octal, spelled as hex
        assert java_pattern("\\0123") == "\\x0A3"  # \012 then '3', as in JS

    def test_char_class_state(self):
        # '(' inside a class is literal, not a group opener
        assert java_pattern(r"[(?<a]") == r"[(?<a]"

    def test_property_escape_annex_b(self):
        # flagless '\p' is an identity escape in the reference: \p{L}
        # matches the literal text 'p{L}' ({L} is not a quantifier, so
        # the braces are literal), \p{2} matches 'pp' (quantified p)
        assert python_pattern(r"\p{L}").fullmatch("p{L}")
        assert python_pattern(r"\P{Lu}x").fullmatch("P{Lu}x")
        assert python_pattern(r"\p{2}").fullmatch("pp")
        assert java_pattern(r"\p{Letter}+") == r"p\{Letter\}+"
        # inside a class: identity escape, braces already literal there
        assert python_pattern(r"[\p{L}]+").fullmatch("pL{}")
        assert java_pattern(r"[\p]") == "[p]"

    def test_malformed_u_annex_b(self):
        # dangling '\u' (no 4 hex digits) is the literal letter 'u'
        assert python_pattern(r"\u12").fullmatch("u12")
        assert java_pattern(r"\u12") == "u12"

    def test_literal_braces_match_annex_b(self):
        # a brace that is not a valid quantifier is a literal in the
        # flagless reference; valid quantifiers still quantify
        assert python_pattern(r"a{2}").fullmatch("aa")
        assert python_pattern(r"a{,3}").fullmatch("a{,3}")  # JS: literal
        assert python_pattern(r"x{y}").fullmatch("x{y}")
        assert java_pattern(r"a{2,3}") == r"a{2,3}"
        assert java_pattern(r"x{y}") == r"x\{y\}"
        assert java_pattern(r"a}b") == r"a\}b"
        assert java_pattern(r"[{}]") == r"[{}]"  # class braces untouched

    def test_bare_c_raises(self):
        with pytest.raises(RegexDialectError):
            java_pattern(r"\c1")


class TestEngineRouting:
    def test_dynamic_kernel_translates(self):
        kernel = compile_schema({"properties": {"s": {"pattern": r"\u0061\cJ"}}})
        assert list(kernel.validate({"s": "a\nx"})) == []
        assert len(list(kernel.validate({"s": "zz"}))) == 1

    def test_dynamic_kernel_annex_b_parity(self):
        # a schema that works on the reference must validate identically
        # here: \p{L} matches the literal 'p{L}' in the flagless RegExp
        kernel = compile_schema({"properties": {"s": {"pattern": r"\p{L}"}}})
        assert list(kernel.validate({"s": "xp{L}y"})) == []
        assert len(list(kernel.validate({"s": "letters"}))) == 1

    def test_columnar_annex_b_parity(self, spark):
        plan = ValidationEngine({"properties": {"s": {"pattern": r"\p{L}"}}})
        df = spark.createDataFrame(
            [(0, "xp{L}y"), (1, "letters")], "rid: long, s: string"
        )
        got = {r["rid"]: r["verdict"] for r in plan.apply(df).collect()}
        assert got == {0: True, 1: False}
        # patternProperties keys route through the same translation
        kernel = compile_columnar(
            {"patternProperties": {r"\u12": {"type": "string"}}}
        )
        assert kernel is not None

    def test_columnar_verdict_matches_kernel(self, spark):
        schema = {"properties": {"s": {"pattern": r"^\u0061+\cI$"}}}
        df = spark.createDataFrame([(0, "aaa\t"), (1, "bbb")], "rid: long, s: string")
        plan = ValidationEngine(schema)
        got = {r["rid"]: r["verdict"] for r in plan.apply(df).collect()}
        assert got == {0: True, 1: False}
        kernel = compile_schema(schema)
        assert list(kernel.validate({"s": "aaa\t"})) == []
        assert len(list(kernel.validate({"s": "bbb"}))) == 1

    def test_named_group_pattern_properties(self):
        # (?<name>) in a patternProperties key compiles on the Python side
        kernel = compile_schema(
            {"patternProperties": {r"^(?<stem>x+)\d$": {"maximum": 5}}}
        )
        assert len(list(kernel.validate({"xx1": 9}))) == 1
        assert list(kernel.validate({"yy1": 9})) == []


class TestPropertyBased:
    def test_common_core_roundtrip(self):
        """Randomized common-core patterns pass through byte-for-byte for
        Java and compile to equivalent Python patterns."""
        from hypothesis import given, settings, strategies as st

        # JS atom -> its java.util.regex spelling
        ws = (r"\t\n\x0B\f\r\x20\u00a0\u1680\u2000-\u200a"
              r"\u2028\u2029\u202f\u205f\u3000\ufeff")
        spelled = {".": r"[^\n\r\u2028\u2029]", r"\s": "[" + ws + "]"}
        atoms = st.sampled_from(
            ["a", "b", ".", r"\d", r"\w", r"\s", "[a-z]", "[^0-9]", r"\.", r"\\"]
        )
        quants = st.sampled_from(["", "*", "+", "?", "{1,3}"])
        pieces = st.tuples(atoms, quants)

        @settings(max_examples=300, deadline=None)
        @given(st.lists(pieces, min_size=1, max_size=6), st.text("ab0. ", max_size=6))
        def check(parts, probe):
            p = "".join(a + q for a, q in parts)
            assert java_pattern(p) == "".join(spelled.get(a, a) + q for a, q in parts)
            assert bool(python_pattern(p).search(probe)) == bool(re.compile(p).search(probe))

        check()

    def test_bmp_codepoint_escape_matches_char(self):
        from hypothesis import given, settings, strategies as st

        @settings(max_examples=200, deadline=None)
        @given(st.integers(min_value=0x20, max_value=0xFFFF))
        def check(cp):
            if 0xD800 <= cp <= 0xDFFF:
                return  # surrogates aren't valid chars
            pat = python_pattern("\\u%04X" % cp)  # unambiguous 4-hex form
            fence = "[]" if chr(cp) in "<>" else "<>"  # a probe without cp
            assert pat.search(fence[0] + chr(cp) + fence[1])
            assert not pat.search(fence)

        check()


def test_atomless_braced_quantifier_raises_both_modes():
    """ADVICE r8: a VALID-form braced quantifier with nothing to repeat
    ('{2}' at pattern start / after '|' / after '(') is an Annex-B
    InvalidBracedQuantifier — the reference's flagless RegExp rejects it
    at COMPILE time, so both dialect paths must raise RegexDialectError
    instead of deferring to a runtime rlike failure / bare re.error."""
    import pytest

    from schema_fantasy_spark.compiler.regex_dialect import (
        RegexDialectError,
        java_pattern,
        python_pattern,
    )

    for pat in ["{2}", "a|{2}", "({3,})", "(a|{2,4})", "(?<n>{2})x"]:
        for fn in (java_pattern, python_pattern):
            with pytest.raises(RegexDialectError):
                fn(pat)
    # quantifiable / literal forms are untouched
    assert java_pattern("a{2}") == "a{2}"
    assert java_pattern("(a){2}") == "(a){2}"
    assert java_pattern("[a]{2}") == "[a]{2}"
    assert java_pattern("[{2}]") == "[{2}]"      # braces in a class
    assert java_pattern("{GG}") == r"\{GG\}"     # invalid form: literal
    assert java_pattern("x{,2}") == r"x\{,2\}"   # invalid form: literal
    assert java_pattern("\\u{2}") == "u{2}"      # identity-escape 'u' quantified


def test_braced_quantifier_after_assertion_or_quantifier_raises():
    """Assertions ('^', '$', '\\b', '\\B'), group openers ('(?:', '(?=',
    '(?!', '(?<=', '(?<!') and a consumed quantifier leave nothing to
    repeat: the reference's flagless RegExp rejects a following braced
    quantifier at compile time, so both dialect paths raise
    RegexDialectError (not a pass-through or a bare re.error)."""
    import pytest

    from schema_fantasy_spark.compiler.regex_dialect import (
        RegexDialectError,
        java_pattern,
        python_pattern,
    )

    for pat in ["^{2}", "${2}", "\\b{2}", "\\B{2}", "(?:{2})", "(?={2})",
                "(?!{2})", "(?<={2})", "(?<!{2})", "a*{2}", "a+{2}",
                "a?{2}", "a*?{2}", "a{2}{3}"]:
        for fn in (java_pattern, python_pattern):
            with pytest.raises(RegexDialectError):
                fn(pat)
    # quantified atoms, lazy modifiers and quantified groups still translate
    for pat in ["a{2}", "(a){2}", "(?:a){2}", "(?=a){2}", "a{2}?", "[$]{2}", "^a{2}"]:
        assert java_pattern(pat) == pat
        assert python_pattern(pat).pattern == pat
    assert java_pattern("^a{2}$") == "^a{2}\\z"
    assert python_pattern("\\ba{2}").pattern.endswith(")a{2}")


def test_both_modes_read_patterns_as_js(spark):
    """The columnar ``rlike`` pattern (``java_pattern``) and the kernel's
    ``python_pattern`` both give the verdict of the reference's flagless
    ``new RegExp(p).test(s)`` (third field, taken from node) where
    java.util.regex, Python's ``re`` and JS differ by default: line
    terminators for ``.`` and ``$``, JS's Unicode ``\\s``, ASCII ``\\d``/
    ``\\w``/``\\b``, and ``\\B`` on an empty string."""
    cases = [("a.b", "a\rb", False), ("a.b", "a\u0085b", True), ("a.b", "a\nb", False),
             ("a.b", "a\u2028b", False), ("b$", "ab\r", False), ("b$", "ab\n", False),
             ("b$", "ab\n\n", False), ("b$", "ab", True), ("\\bz", "\u00e9z", True),
             ("z\\B", "z\u00e9", False), ("\\d", "\u0663", False), ("\\w", "\u00e9", False),
             ("\\s", "\u00a0", True), ("\\s", "\ufeff", True), ("\\s", "\u3000", True),
             ("\\s", "\u0085", False), ("\\s", "\u001c", False), ("^\\S$", "\u00a0", False),
             ("^[^\\S]$", "\u2028", True), ("^[a\\S]$", "\u00a0", False),
             ("^[^a\\S]$", "\u00a0", True), ("^[\\s\\S]$", "\n", True), ("\\v", "\x0b", True),
             ("^\\B$", "", True), ("[\\w.]$", "\u00e9.", True),
             # Annex-B identity escapes: the bare letter
             ("\\h", "h", True), ("\\h", " ", False), ("\\R", "R", True),
             ("\\R", "\n", False), ("\\e", "\x1b", False), ("\\a", "\x07", False),
             ("\\a", "a", True), ("\\Q.\\E", "Q.E", True), ("\\Q.\\E", ".", False),
             ("^\\A$", "A", True), ("^\\Z$", "Z", True), ("\\z", "z", True),
             ("\\x", "x", True), ("\\x4", "x4", True), ("\\x41", "A", True),
             ("\\k<a>", "k<a>", True), ("(?<n>a)\\k<n>", "aa", True),
             ("[\\h]", " ", False), ("[\\B]", "B", True),
             ("[\\b]", "\b", True), ("[\\b]", "b", False),
             # digit escapes: a backreference only up to the group count;
             # past it \8 and \9 are identity escapes, the rest legacy octal
             ("^\\8$", "8", True), ("^\\9$", "9", True), ("^[\\8]$", "8", True),
             ("^\\81$", "81", True), ("^(a)\\2$", "a\x02", True), ("^(a)\\2$", "a2", False),
             ("^(a)\\1$", "aa", True), ("^(a)\\1$", "a\x01", False), ("^\\12$", "\n", True),
             ("^\\12$", "12", False), ("^\\18$", "\x018", True), ("^\\19$", "\x019", True),
             ("^\\400$", " 0", True), ("^\\377$", "\xff", True), ("^\\44$", "$", True),
             ("^\\444$", "$4", True), ("^\\08$", "\x008", True), ("^[\\1]$", "\x01", True),
             ("^[\\12]$", "\n", True), ("^[\\12]$", "1", False), ("^(a)[\\1]$", "a\x01", True),
             ("^(a)(b)\\2$", "abb", True), ("^(a)(b)\\3$", "ab\x03", True),
             ("^(?<n>a)\\2$", "a\x02", True), ("^\\1{2}$", "\x01\x01", True),
             ("^(a)\\10$", "a\b", True), ("^(?:a)\\1$", "a\x01", True),
             ("^[(]\\1$", "(\x01", True), ("^\\(a\\)\\1$", "(a)\x01", True),
             # a group that opens later has captured nothing: empty string
             ("^\\1(a)$", "a", True), ("^\\1(a)$", "aa", False), ("^\\1{3}(a)$", "a", True),
             ("^(?:\\1(a))+$", "aa", True), ("^(?:\\1(a))+$", "aaa", True),
             ("^\\1(a)\\1$", "aa", True), ("^\\2(a)(b)$", "ab", True),
             ("^(a)(b)(c)(d)(e)(f)(g)(h)(i)(j)\\10$", "abcdefghijj", True),
             # so has a group still open around the reference
             ("^(a\\1)$", "a", True), ("^(a\\1)$", "aa", False), ("^(a\\1)+$", "aa", True),
             ("^(a\\1)+$", "aaa", True), ("^((a)\\1)$", "a", True), ("^((a)\\1)$", "aa", False),
             ("^((a)\\2)$", "aa", True), ("^((a)\\2)$", "a", False), ("^(a(b\\1))$", "ab", True),
             ("^(a(b\\1))$", "aba", False), ("^(a)(b\\1)$", "aba", True),
             ("^(?<n>a\\1)$", "a", True), ("^(?=(a\\1))a$", "a", True),
             ("^(a\\1)\\1$", "aa", True), ("^(a|b\\1)+$", "ab", True),
             # '[^]' is any character, '[]' matches nothing
             ("^[^]$", "\n", True), ("a[^]b", "a b", True), ("^[^]{2}$", "ab", True),
             ("[]", "", False), ("a[]", "a", False), ("[]a]", "a]", False),
             ("[^]a]", "xa]", True), ("[^]a]", "a", False)]
    df = spark.createDataFrame(
        [(i, java_pattern(p), s) for i, (p, s, _js) in enumerate(cases)],
        "i: int, p: string, s: string",
    )
    got = {r["i"]: r["m"] for r in df.selectExpr("i", "s rlike p AS m").collect()}
    for i, (p, s, js) in enumerate(cases):
        assert got[i] == js, ("columnar", p, s)
        assert bool(python_pattern(p).search(s)) == js, ("kernel", p, s)


#: strings probed by the legacy-octal cases, and node's ``new
#: RegExp(p).test(s)`` verdict for each
_OCTAL_STRINGS = ["\n3", "S", "\n", "3", "a\x00b"]
_OCTAL_VERDICTS = {
    "\\0123": [True, False, False, False, False],
    "^[\\0123]$": [False, False, True, True, False],
    "\\012": [True, False, True, False, False],
    "a\\00b": [False, False, False, False, True],
}


@pytest.mark.parametrize("mode", ["columnar", "dynamic"])
@pytest.mark.parametrize("pattern", list(_OCTAL_VERDICTS),
                         ids=["nul-then-octal", "class", "octal", "nul-nul"])
def test_legacy_octal_escapes_read_as_js(spark, pattern, mode):
    """A legacy octal escape takes at most three digits, ``\\0`` included,
    in a class or out: ``\\0123`` is ``\\012`` then '3' in JS and in both
    modes, where java.util.regex alone reads one escape ('S')."""
    schema = {"properties": {"s": {"pattern": pattern}}}
    if mode == "columnar":
        df = spark.createDataFrame(list(enumerate(_OCTAL_STRINGS)), "i: int, s: string")
        out = ValidationEngine(schema).apply(df)
    else:
        df = spark.createDataFrame(
            [(i, json.dumps({"s": s})) for i, s in enumerate(_OCTAL_STRINGS)],
            "i: int, doc: string")
        out = ValidationEngine(schema, mode="dynamic").apply(df, doc_col="doc")
    got = {r["i"]: r["verdict"] for r in out.collect()}
    assert [got[i] for i in range(len(_OCTAL_STRINGS))] == _OCTAL_VERDICTS[pattern]


def test_k_naming_no_group_raises_in_a_pattern_with_named_groups():
    """'\\k' that names no group is an error in a pattern with named
    groups (node rejects it too); without named groups it is an identity
    escape."""
    for pat in ["(?<n>a)\\k", "(?<n>a)\\kx"]:
        with pytest.raises(RegexDialectError):
            java_pattern(pat)
    assert java_pattern("\\kx") == "kx"


def test_pattern_rejected_by_kernel_is_rejected_by_columnar():
    """A pattern Python's ``re`` cannot compile fails schema compilation
    in both modes, not as a task failure inside ``rlike``."""
    schema = {"properties": {"s": {"pattern": "(?<g>a)(?<g>b)"}}}
    with pytest.raises(SchemaCompileError):
        compile_schema(schema)
    with pytest.raises(SchemaCompileError):
        compile_columnar(schema)
