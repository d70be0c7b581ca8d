"""JS-regex dialect routing (reference src/v4/pattern.js:18 — ``new RegExp(p)``).

The reference compiles ``pattern`` with a JavaScript ``RegExp``; this engine
runs patterns on java.util.regex (columnar ``rlike``) or Python ``re`` (the
dynamic kernel). The three dialects agree on the common core; this module

* TRANSLATES the JS-specific spellings that have an exact equivalent in the
  target dialect (``\\cJ`` control escapes, ``(?<name>...)`` named groups
  for Python), and
* reproduces the reference's FLAGLESS-RegExp Annex-B reading of the
  legacy escapes, the only reading it implements: ``new RegExp(p)`` without
  the ``u`` flag makes ``\\p``/``\\P``/dangling ``\\u`` IDENTITY escapes —
  they match the literal letter — and a ``{...}`` that is not a valid
  quantifier is a literal brace sequence. So ``\\p{L}`` matches the text
  ``p{L}``, ``\\u{2}`` matches ``uu`` ('u' quantified), and ``\\u{GG}``
  matches ``u{GG}`` — exactly what the reference computes. The translator
  emits the bare letter and escapes non-quantifier braces (``\\{``/``\\}``,
  a no-op for Python and required for java.util.regex, which rejects bare
  ``{`` outside quantifiers). The same holds for every other letter
  escape the flagless RegExp gives no meaning (``\\h``, ``\\R``, ``\\e``,
  ``\\a``, ``\\Q``, ``\\z``, ``\\x`` without two hex digits, ``\\k`` in a
  pattern without named groups, ``\\B`` in a class, ...): Java reads
  several of them as classes, anchors or quotes and Python rejects most,
  so the translator emits the bare letter. A digit escape ``\\N`` is a
  backreference only outside a class in a pattern with at least N
  capturing groups and never for ``\\0``; otherwise ``\\8`` and ``\\9`` are
  identity escapes and the rest a legacy octal escape (``\\0`` is NUL,
  ``\\12`` is U+000A, ``\\400`` is a space then '0', ``\\0123`` is U+000A
  then '3' where Java would read one escape), spelled ``\\xHH``. A
  backreference to a group that opens later, or to a group that is still
  open around it, matches the empty string, as in JS, and is spelled
  ``(?:)`` (Python refuses it, Java never matches it). ``[^]`` (any
  character) and ``[]`` (matches nothing), errors in both Java and Python,
  are spelled as ``[\\s\\S]`` and ``[^\\s\\S]``.

Deliberate divergence: ``\\c`` without a control letter (Annex-B reads it
as a literal backslash + 'c' OUTSIDE classes but as a data character
inside them — translating both contexts faithfully buys nothing for real
schemas, so it raises :class:`RegexDialectError`).

The constructs whose meaning differs between the three dialects are
spelled out as the reference's RegExp reads them, for both targets:
``\\s``/``\\S`` as JS's whitespace class (U+00A0, U+FEFF, the Zs spaces
and the line terminators; Python's Unicode ``\\s`` adds U+001C-U+001F and
U+0085, java.util.regex's is ASCII), ``.`` as "not a line terminator"
(``\\n``, ``\\r``, U+2028, U+2029), ``$`` as end of input (Python and Java
also match before a final newline), ``\\v`` as U+000B (Java's ``\\v`` is a
class) and ``\\b``/``\\B`` as ASCII word boundaries (JDK 17's ``\\b`` treats
every Unicode letter as a word character, Python's ``\\B`` never matches an
empty string). ``\\d`` and ``\\w`` are ASCII in JS and java.util.regex;
:func:`python_pattern` compiles with ``re.ASCII`` to match. Everything else in the shared core passes
through byte-for-byte.
"""

from __future__ import annotations

import re

_HEX4 = re.compile(r"[0-9a-fA-F]{4}\Z")
_HEX2 = re.compile(r"[0-9a-fA-F]{2}")
#: letters a flagless JS RegExp escape gives a meaning, in a class or out
#: (k, u and x depend on what follows, B is only an assertion outside a
#: class; p/P are property escapes only under the u flag)
_MEANINGFUL = set("bBdDwWsSfnrtvcxuk")
#: JS's "[^]" (any character) and "[]" (nothing)
_EMPTY_CLASS = re.compile(r"\[\^?\]")
#: a named group opener (?<name>, not a lookbehind
_NAMED_GROUP = re.compile(r"\(\?<(?![=!])")
#: a legacy octal escape's digits: \377 at most, \400 is \40 then '0'
_OCTAL = re.compile(r"[0-3][0-7]{0,2}|[4-7][0-7]?")
_DIGITS = re.compile(r"[0-9]+")
#: valid quantifier brace forms: {n}, {n,}, {n,m} (ECMA-262 + Java + re)
_QUANT = re.compile(r"\{\d+(?:,\d*)?\}")
#: non-capturing and lookaround group openers: (?: (?= (?! (?<= (?<!
_GROUP_PREFIX = re.compile(r"\(\?(?:[:=!]|<[=!])")
#: JS WhiteSpace + LineTerminator, the members of \s (ECMA-262 22.2.2.9)
_JS_SPACE = (
    r"\t\n\x0B\f\r\x20\u00a0\u1680\u2000-\u200a"
    r"\u2028\u2029\u202f\u205f\u3000\ufeff"
)
#: JS '.': anything but a LineTerminator
_JS_DOT = r"[^\n\r\u2028\u2029]"
#: JS '$' without the m flag: end of input only
_END = {"python": r"\Z", "java": r"\z"}
#: \b / \B over the ASCII \w, spelled with lookarounds (JDK 17's own \b
#: treats every Unicode letter as a word character, its \w does not;
#: Python's \B never matches an empty string)
_ASCII_BOUNDARY = {
    "b": r"(?:(?<=\w)(?!\w)|(?<!\w)(?=\w))",
    "B": r"(?:(?<=\w)(?=\w)|(?<!\w)(?!\w))",
}


class RegexDialectError(ValueError):
    """A pattern uses a construct with dialect-dependent semantics."""


def _fold_nonspace(body: str, neg: bool) -> str:
    """A class holding ``\\S``, with ``body`` its other members. Python has
    no class nested in a class, so spell ``[X\\S]`` as ``(?:[X]|[^ws])`` and
    ``[^X\\S]`` as ``(?:(?![X])[ws])``."""
    if body.startswith("^"):
        body = "\\" + body
    if not body:
        return ("[" if neg else "[^") + _JS_SPACE + "]"
    if neg:
        return "(?:(?![" + body + "])[" + _JS_SPACE + "])"
    return "(?:[" + body + "]|[^" + _JS_SPACE + "])"


def _count_groups(pattern: str) -> int:
    """The number of capturing groups, numbered and named, in ``pattern``."""
    bare = re.sub(r"\\.|\[(?:\\.|[^\]\\])*\]", "", pattern)  # no escapes, no classes
    return len(re.findall(r"\((?!\?)|\(\?<(?![=!])", bare))


def _translate(pattern: str, target: str) -> str:
    out = []
    i, n = 0, len(pattern)
    in_class = False
    # where the open class starts in ``out``, whether it is negated and
    # whether it holds \S
    cls_start, cls_neg, cls_nonspace = 0, False, False
    # does the previous token form a quantifiable atom? A VALID-form
    # braced quantifier with nothing to repeat ('{2}' at pattern start
    # or after '|'/'(') is an Annex-B InvalidBracedQuantifier — the
    # reference's flagless RegExp rejects it at schema-COMPILE time,
    # so deferring to a runtime rlike failure (or a bare re.error)
    # mid-query is wrong in both modes (ADVICE r8).
    prev_atom = False
    # without a named group, flagless '\k' is an identity escape
    named = bool(_NAMED_GROUP.search(pattern))
    groups = _count_groups(pattern)
    opened = 0  # capturing groups opened so far
    open_groups = []  # the number of each enclosing group, 0 if not capturing
    while i < n:
        ch = pattern[i]
        if ch == "\\":
            if i + 1 >= n:
                raise RegexDialectError(f"pattern {pattern!r}: trailing backslash")
            nxt = pattern[i + 1]
            if nxt.isascii() and nxt.isalpha() and (
                nxt not in _MEANINGFUL
                or (nxt == "B" and in_class)
                or (nxt == "x" and not _HEX2.match(pattern, i + 2))
                or (nxt == "u" and not _HEX4.match(pattern[i + 2 : i + 6]))
                or (nxt == "k" and not named)
            ):
                # Annex-B identity escape: the letter itself; a '{...}'
                # after '\u' or '\p' falls to the brace scanner below ({2}
                # quantifies the letter, {GG} is literal braces)
                out.append(nxt)
                i += 2
                prev_atom = True
                continue
            if nxt == "c":
                letter = pattern[i + 2] if i + 2 < n else ""
                if not (letter.isascii() and letter.isalpha()):
                    raise RegexDialectError(
                        f"pattern {pattern!r}: '\\c' without a control letter relies "
                        "on JS legacy behavior; escape the backslash if a literal "
                        "was meant"
                    )
                out.append("\\x%02X" % (ord(letter.upper()) - 64))
                i += 3
                prev_atom = True
                continue
            if nxt == "k" and pattern[i + 2 : i + 3] != "<":
                raise RegexDialectError(
                    f"pattern {pattern!r}: '\\k' must name a group in a pattern "
                    "with named groups"
                )
            if nxt == "k" and target == "python":
                j = pattern.find(">", i + 3)
                if j < 0:
                    raise RegexDialectError(f"pattern {pattern!r}: unterminated \\k<")
                out.append("(?P=" + pattern[i + 3 : j] + ")")
                i = j + 1
                prev_atom = True
                continue
            if nxt == "0" or (nxt in "123456789" and (
                in_class or int(_DIGITS.match(pattern, i + 1).group(0)) > groups
            )):
                # \0 is never a backreference, nor is \N without group N:
                # Annex-B reads \8 and \9 as identity escapes and the rest
                # as a legacy octal escape (\0 alone is NUL, \0123 is \012
                # then '3'; Java would read \0123 as one octal escape)
                m = _OCTAL.match(pattern, i + 1)
                out.append("\\x%02X" % int(m.group(0), 8) if m else nxt)
                i = m.end() if m else i + 2
                prev_atom = True
                continue
            if nxt in "123456789":
                m = _DIGITS.match(pattern, i + 1)
                ref = int(m.group(0))
                if ref > opened or ref in open_groups:
                    # a group that opens later, or one still open around
                    # the reference, has captured nothing yet: JS matches
                    # the empty string (captures also reset on each
                    # quantifier iteration); Python refuses the reference
                    # and Java never matches it
                    out.append("(?:)")
                    i = m.end()
                    prev_atom = True
                    continue
            if nxt in "sS":
                if not in_class:
                    out.append(("[" if nxt == "s" else "[^") + _JS_SPACE + "]")
                elif nxt == "s":
                    out.append(_JS_SPACE)
                else:
                    cls_nonspace = True  # folded in when the class closes
                i += 2
                prev_atom = True
                continue
            if nxt == "v":
                out.append("\\x0B")
                i += 2
                prev_atom = True
                continue
            if nxt in "bB" and not in_class:
                out.append(_ASCII_BOUNDARY[nxt])
            elif nxt == "b":
                out.append("\\x08")  # backspace in a JS class; Java rejects [\b]
            else:
                out.append(pattern[i : i + 2])
            i += 2
            prev_atom = nxt not in "bB"  # word-boundary assertions
            continue
        m = None if in_class else _GROUP_PREFIX.match(pattern, i)
        if m:
            out.append(m.group(0))
            i = m.end()
            prev_atom = False
            open_groups.append(0)
            continue
        if (
            not in_class
            and ch == "("
            and pattern[i : i + 3] == "(?<"
            and i + 3 < n
            and pattern[i + 3] not in "=!"
        ):
            j = pattern.find(">", i)
            if j < 0:
                raise RegexDialectError(f"pattern {pattern!r}: unterminated (?<")
            name = pattern[i + 3 : j]
            out.append(("(?P<" if target == "python" else "(?<") + name + ">")
            i = j + 1
            prev_atom = False
            opened += 1
            open_groups.append(opened)
            continue
        m = None if in_class else _EMPTY_CLASS.match(pattern, i)
        if m:
            out.append("[\\s\\S]" if m.group(0) == "[^]" else "[^\\s\\S]")
            i = m.end()
            prev_atom = True
            continue
        if ch == "[" and not in_class:
            in_class = True
            cls_start, cls_nonspace = len(out), False
            cls_neg = pattern[i + 1 : i + 2] == "^"
        elif ch == "]" and in_class:
            in_class = False
            prev_atom = True
            if cls_nonspace:
                body = "".join(out[cls_start + 1 + cls_neg :])
                out[cls_start:] = [_fold_nonspace(body, cls_neg)]
                i += 1
                continue
        elif ch in "{}" and not in_class:
            # Annex-B ExtendedPatternCharacter: a brace that does not form
            # a valid quantifier is a LITERAL in the reference's flagless
            # RegExp. Python agrees; java.util.regex rejects a bare '{'
            # ("Illegal repetition") — escape it for both so the three
            # dialects read identically. Valid quantifiers copy verbatim.
            m = _QUANT.match(pattern, i) if ch == "{" else None
            if m:
                if not prev_atom:
                    raise RegexDialectError(
                        f"pattern {pattern!r}: quantifier {m.group(0)!r} has "
                        "nothing to repeat — the reference's flagless RegExp "
                        "rejects this at compile time (Annex-B "
                        "InvalidBracedQuantifier)"
                    )
                out.append(m.group(0))
                i = m.end()
                prev_atom = False  # a quantifier cannot be quantified
                continue
            out.append("\\" + ch)
            i += 1
            prev_atom = True
            continue
        if not in_class and ch != "[":
            # '(' opens a group and '|' starts a fresh alternative —
            # nothing quantifiable precedes the next term; '^'/'$' are
            # assertions and '*'/'+'/'?' quantifiers, not atoms; every
            # other pattern character is itself an atom
            prev_atom = ch not in "(|^$*+?"
            if ch == "(":
                opened += 1
                open_groups.append(opened)
            elif ch == ")" and open_groups:
                open_groups.pop()
            if ch in ".$":
                out.append(_JS_DOT if ch == "." else _END[target])
                i += 1
                continue
        out.append(ch)
        i += 1
    return "".join(out)


def java_pattern(pattern: str) -> str:
    """Pattern string for java.util.regex (``Column.rlike``), read as the
    reference's flagless RegExp (Annex-B legacy escapes included)."""
    return _translate(pattern, "java")


def python_pattern(pattern: str) -> "re.Pattern":
    """Compiled Python ``re`` pattern with JS spellings translated, read
    like :func:`java_pattern`. ``re.ASCII`` gives
    ``\\d``/``\\w`` the ASCII classes of the reference's RegExp;
    Python's defaults are Unicode, so ``\\d`` would match ``'٣'``."""
    return re.compile(_translate(pattern, "python"), re.ASCII)
