"""CSS selector engine with cascadia-parity semantics.

The reference accepts arbitrary user-supplied CSS selectors for per-site rules
(POST /api/rule → rest/server.go:277-309) and matches them with the vendored
full CSS3 engine vendor/github.com/andybalholm/cascadia (parser.go /
selector.go / pseudo_classes.go). This module is a from-scratch Python
implementation of the same grammar and matching semantics — recursive-descent
parser mirroring cascadia's parser.go state machine, matcher objects mirroring
selector.go / pseudo_classes.go — cited by file:line throughout, never copied.

Supported (everything cascadia supports):
- type / universal / #id / .class selectors, compound sequences
- attribute selectors: [k], [k=v], [k!=v], [k~=v], [k|=v], [k^=v], [k$=v],
  [k*=v], [k#=regex] (cascadia extension), with the trailing `i` ignore-case
  flag; identifier or quoted-string values; CSS escapes
- combinators: descendant (space), child (>), adjacent sibling (+),
  general sibling (~); comma groups
- pseudo-classes: :not() :has() :haschild() :contains() :containsown()
  :matches() :matchesown() :nth-child :nth-last-child :nth-of-type
  :nth-last-of-type (an+b / odd / even) :first-child :last-child
  :first-of-type :last-of-type :only-child :only-of-type :input :empty
  :root :link :lang() :enabled :disabled :checked, and the static
  never-match set (:visited :hover :active :focus :target)
- /* comments */ inside selectors

Error semantics match goquery: an invalid selector compiles to a matcher that
matches NOTHING (goquery type.go:166-176 compileMatcher → invalidMatcher), it
does not raise out of Find — so a bad per-site rule falls back to the general
parser, exactly like the reference. Pseudo-elements (::before etc.) are parse
errors on the Compile path (cascadia selector.go:102-109 uses ParseGroup,
which rejects them), hence match nothing.

Regex engines: [k#=re] / :matches() / :matchesown() use Python `re` where Go
uses RE2, but patterns are pre-screened by _re2_unsafe: every construct
Python accepts and RE2 rejects (lookaround, backreferences, atomic groups,
possessive quantifiers, conditionals, \\Z, [\\b]) is rejected at compile
time into the invalid matcher. ACCEPTED patterns therefore behave
identically in both engines; RE2-only syntax (\\p{L}, \\z, mid-pattern
global flags) fails Python re.compile and lands in the same
invalid-matcher bucket, which diverges from cascadia only in the
accept-vs-reject direction, never in match results.
"""

from __future__ import annotations

import re

from .folddata import FOLD_ORBIT_EXCEPTIONS
from .node import COMMENT_NODE, DOCUMENT_NODE, ELEMENT_NODE, TEXT_NODE, Node

_WS = " \t\r\n\f"
_HEX = "0123456789abcdefABCDEF"


class SelectorError(ValueError):
    """Selector parse error (cascadia returns error; goquery maps to
    a never-matching matcher)."""


def _lower_ascii(s: str) -> str:
    """cascadia toLowerASCII (parser.go:62-79): only A-Z are folded."""
    return s.translate(_ASCII_LOWER)


_ASCII_LOWER = str.maketrans(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"
)


def _name_start(c: str) -> bool:
    return c.isascii() and (c.isalpha() or c == "_") or ord(c) > 127


def _name_char(c: str) -> bool:
    return (
        c.isascii() and (c.isalnum() or c in "_-") or ord(c) > 127
    )


# ---------------------------------------------------------------------------
# Matchers (selector.go / pseudo_classes.go semantics)
# ---------------------------------------------------------------------------


class _TagSel:
    __slots__ = ("tag",)

    def __init__(self, tag):
        self.tag = tag

    def match(self, n: Node) -> bool:
        return n.type == ELEMENT_NODE and n.data == self.tag


class _IdSel:
    __slots__ = ("id",)

    def __init__(self, id_):
        self.id = id_

    def match(self, n: Node) -> bool:
        # matchAttribute over ElementNode only (selector.go:251-255)
        return n.type == ELEMENT_NODE and n.get_attr("id") == self.id


def _simple_fold(s: str) -> str:
    """Per-rune case folding matching Go's strings.EqualFold
    (unicode.SimpleFold orbit equality): each rune canonicalizes to a fixed
    representative of its SimpleFold orbit — per-rune lower() when length-
    preserving, overridden by the generated FOLD_ORBIT_EXCEPTIONS table for
    orbits lower() can't collapse ('ſ'/'s', 'ς'/'σ', 'µ' U+00B5/'μ' U+03BC,
    Greek symbol variants, …). Never changes string length, so full-fold
    pairs like 'ß'/'SS' stay UNequal, matching Go; Turkish-conditional
    İ/ı stay singletons (EqualFold("ı","I") is false in Go)."""
    out = []
    for ch in s:
        rep = FOLD_ORBIT_EXCEPTIONS.get(ch)
        if rep is None:
            low = ch.lower()
            rep = low if len(low) == 1 else ch
        out.append(rep)
    return "".join(out)


def _match_include(val: str, s: str, ignore_case: bool) -> bool:
    """selector.go:337-349: s is a whitespace-separated list including val.
    Both branches split on the exact Go whitespace set " \\t\\r\\n\\f";
    the ignore_case branch compares under simple folding (strings.EqualFold),
    not Python full casefold."""
    if ignore_case:
        val = _simple_fold(val)
    start = 0
    for i, ch in enumerate(s):
        if ch in _WS:
            w = s[start:i]
            if (_simple_fold(w) if ignore_case else w) == val:
                return True
            start = i + 1
    w = s[start:]
    return (_simple_fold(w) if ignore_case else w) == val


class _ClassSel:
    __slots__ = ("cls",)

    def __init__(self, cls):
        self.cls = cls

    def match(self, n: Node) -> bool:
        if n.type != ELEMENT_NODE:
            return False
        v = n.get_attr("class")
        return v is not None and _match_include(self.cls, v, False)


def _eq_fold(a: str, b: str, ignore_case: bool) -> bool:
    if ignore_case:
        # strings.EqualFold is SIMPLE fold ('ß' != 'SS'), not full casefold
        return _simple_fold(a) == _simple_fold(b)
    return a == b


_RE2_REJECT_GROUPS = (
    ("(?P=", "named backreference"),
    ("(?=", "lookahead"),
    ("(?!", "negative lookahead"),
    ("(?<=", "lookbehind"),
    ("(?<!", "negative lookbehind"),
    ("(?>", "atomic group"),
    ("(?(", "conditional group"),
    ("(?#", "comment group"),
)


def _re2_unsafe(p: str):
    """Reason string if `p` uses a construct Python `re` accepts but Go's
    regexp (RE2) rejects — the silent-divergence direction for [k#=] /
    :matches() / :matchesown(). Accepted patterns therefore match identically
    in both engines. (The other direction — RE2-only syntax like \\p{L},
    \\z, or mid-pattern global flags — already fails Python re.compile and
    lands in the same invalid-matcher bucket.) Returns None when safe."""
    i, n = 0, len(p)
    in_class = False
    while i < n:
        c = p[i]
        if c == "\\":
            if i + 1 >= n:
                break
            nxt = p[i + 1]
            if nxt.isdigit():
                # \1 outside a class is a Python backref (RE2: error); inside
                # a class it is a Python octal escape (RE2: error). Reject
                # both; RE2-style octal is expressible as \x.
                return "backreference/octal escape \\" + nxt
            if nxt == "Z":
                return "\\Z (RE2 spells end-of-text \\z)"
            if nxt == "g":
                return "\\g backreference"
            if nxt in "uUN":
                # Python accepts \uXXXX / \UXXXXXXXX / \N{NAME} (also inside
                # character classes); RE2 errors on all three — it spells
                # codepoints \x{...} only.
                return "\\" + nxt + " escape (RE2 spells codepoints \\x{...})"
            if nxt == "b" and in_class:
                return "[\\b] backspace escape"
            i += 2
            continue
        if in_class:
            if c == "]":
                in_class = False
            i += 1
            continue
        if c == "[":
            in_class = True
            i += 1
            if i < n and p[i] == "^":
                i += 1
            if i < n and p[i] == "]":  # leading ] is literal
                i += 1
            continue
        if c == "(":
            for g, reason in _RE2_REJECT_GROUPS:
                if p.startswith(g, i):
                    return reason
            i += 1
            continue
        if c in "*+?" and i + 1 < n and p[i + 1] == "+":
            # X*+ / X++ / X?+ possessive quantifiers (Python >= 3.11).
            # When Python would reject the sequence anyway ("multiple
            # repeat"), rejecting here lands in the same invalid-matcher
            # bucket, so this cannot wrongly kill a both-engines-valid
            # pattern.
            return "possessive quantifier"
        if c == "{":
            # {m,n}+ possessive interval: only flag a REAL quantifier brace
            # (Python treats a non-quantifier '{' as a literal, as does RE2)
            j = i + 1
            while j < n and (p[j].isdigit() or p[j] == ","):
                j += 1
            if j > i + 1 and j < n and p[j] == "}" and any(
                ch.isdigit() for ch in p[i + 1:j]
            ):
                if j + 1 < n and p[j + 1] == "+":
                    return "possessive quantifier"
                i = j + 1
                continue
        i += 1
    return None


class _AttrSel:
    __slots__ = ("key", "val", "op", "rx", "insensitive")

    def __init__(self, key, val, op, rx=None, insensitive=False):
        self.key = key
        self.val = val
        self.op = op
        self.rx = rx
        self.insensitive = insensitive

    def match(self, n: Node) -> bool:  # selector.go:272-296
        if n.type != ELEMENT_NODE:
            return False
        s = n.get_attr(self.key)
        op = self.op
        if op == "":
            return s is not None
        if op == "!=":
            # matches when NO attr with this key has the value (selector.go:324-334)
            return s is None or not _eq_fold(s, self.val, self.insensitive)
        if s is None:
            return False
        if op == "=":
            return _eq_fold(s, self.val, self.insensitive)
        if op == "~=":
            return _match_include(self.val, s, self.insensitive)
        if op == "|=":  # selector.go:352-366
            if _eq_fold(s, self.val, self.insensitive):
                return True
            lv = len(self.val)
            return (
                len(s) > lv
                and _eq_fold(s[:lv], self.val, self.insensitive)
                and s[lv] == "-"
            )
        if op in ("^=", "$=", "*="):
            if s.strip() == "":  # selector.go:373,388,403
                return False
            a, b = (s, self.val)
            if self.insensitive:
                a, b = a.lower(), b.lower()
            if op == "^=":
                return a.startswith(b)
            if op == "$=":
                return a.endswith(b)
            return b in a
        if op == "#=":
            return self.rx.search(s) is not None
        return False


class _NeverMatch:
    __slots__ = ()

    def match(self, n: Node) -> bool:
        return False


class _Compound:
    __slots__ = ("sels",)

    def __init__(self, sels):
        self.sels = sels

    def match(self, n: Node) -> bool:  # selector.go:455-466
        if not self.sels:
            return n.type == ELEMENT_NODE
        for s in self.sels:
            if not s.match(n):
                return False
        return True


class _Combined:
    __slots__ = ("first", "comb", "second")

    def __init__(self, first, comb, second):
        self.first = first
        self.comb = comb
        self.second = second

    def match(self, n: Node) -> bool:  # selector.go:490-555
        comb = self.comb
        if comb == " ":
            if not self.second.match(n):
                return False
            p = n.parent
            while p is not None:
                if self.first.match(p):
                    return True
                p = p.parent
            return False
        if comb == ">":
            return (
                self.second.match(n)
                and n.parent is not None
                and self.first.match(n.parent)
            )
        # sibling combinators
        if not self.second.match(n):
            return False
        if comb == "+":
            s = n.prev_sibling
            while s is not None:
                if s.type in (TEXT_NODE, COMMENT_NODE):
                    s = s.prev_sibling
                    continue
                return self.first.match(s)
            return False
        # '~'
        s = n.prev_sibling
        while s is not None:
            if self.first.match(s):
                return True
            s = s.prev_sibling
        return False


class _Group:
    __slots__ = ("sels",)

    def __init__(self, sels):
        self.sels = sels

    def match(self, n: Node) -> bool:
        for s in self.sels:
            if s.match(n):
                return True
        return False


# --- pseudo-classes (pseudo_classes.go) ------------------------------------


def _node_text(n: Node) -> str:
    """writeNodeText (pseudo_classes.go:127-136): text nodes append data,
    descent only into ELEMENT children (pre-order, iterative)."""
    buf: list = []
    stack = [n]
    while stack:
        nd = stack.pop()
        if nd.type == TEXT_NODE:
            buf.append(nd.data)
        elif nd.type == ELEMENT_NODE:
            kids = []
            c = nd.first_child
            while c is not None:
                kids.append(c)
                c = c.next_sibling
            stack.extend(reversed(kids))
    return "".join(buf)


def _node_own_text(n: Node) -> str:  # pseudo_classes.go:147-155
    buf = []
    c = n.first_child
    while c is not None:
        if c.type == TEXT_NODE:
            buf.append(c.data)
        c = c.next_sibling
    return "".join(buf)


class _RelativePseudo:
    __slots__ = ("name", "group")

    def __init__(self, name, group):
        self.name = name
        self.group = group

    def match(self, n: Node) -> bool:  # pseudo_classes.go:31-48
        if n.type != ELEMENT_NODE:
            return False
        if self.name == "not":
            return not self.group.match(n)
        if self.name == "haschild":
            c = n.first_child
            while c is not None:
                if self.group.match(c):
                    return True
                c = c.next_sibling
            return False
        # "has": any-descendant DFS (pseudo_classes.go:63-70)
        return self._has(n)

    def _has(self, n: Node) -> bool:
        """Any descendant matches, entering only ELEMENT children; an
        explicit stack, so depth costs no recursion."""
        match = self.group.match
        stack = [n]
        while stack:
            c = stack.pop().first_child
            while c is not None:
                if match(c):
                    return True
                if c.type == ELEMENT_NODE:
                    stack.append(c)
                c = c.next_sibling
        return False


class _ContainsPseudo:
    __slots__ = ("value", "own")

    def __init__(self, value, own):
        self.value = value  # already lowercased at parse (parser.go:511)
        self.own = own

    def match(self, n: Node) -> bool:
        text = _node_own_text(n) if self.own else _node_text(n)
        return self.value in text.lower()


class _RegexpPseudo:
    __slots__ = ("rx", "own")

    def __init__(self, rx, own):
        self.rx = rx
        self.own = own

    def match(self, n: Node) -> bool:
        text = _node_own_text(n) if self.own else _node_text(n)
        return self.rx.search(text) is not None


class _NthPseudo:
    __slots__ = ("a", "b", "last", "of_type")

    def __init__(self, a, b, last, of_type):
        self.a = a
        self.b = b
        self.last = last
        self.of_type = of_type

    def match(self, n: Node) -> bool:  # pseudo_classes.go:163-273
        if n.type != ELEMENT_NODE or n.parent is None:
            return False
        a, b = self.a, self.b
        if a == 0:
            # simpleNthChildMatch / simpleNthLastChildMatch
            count = 0
            c = n.parent.last_child if self.last else n.parent.first_child
            while c is not None:
                if c.type == ELEMENT_NODE and not (
                    self.of_type and c.data != n.data
                ):
                    count += 1
                    if c is n:
                        return count == b
                    if count >= b:
                        return False
                c = c.prev_sibling if self.last else c.next_sibling
            return False
        i = -1
        count = 0
        c = n.parent.first_child
        while c is not None:
            if c.type == ELEMENT_NODE and not (self.of_type and c.data != n.data):
                count += 1
                if c is n:
                    i = count
                    if not self.last:
                        break
            c = c.next_sibling
        if i == -1:
            return False
        if self.last:
            i = count - i + 1
        i -= b
        # Go integer division semantics: i%a == 0 && i/a >= 0 (truncation
        # toward zero; i%a==0 makes floor vs trunc moot, sign of i/a == sign
        # of i*a)
        return i % a == 0 and (i == 0 or (i > 0) == (a > 0))


class _OnlyChildPseudo:
    __slots__ = ("of_type",)

    def __init__(self, of_type):
        self.of_type = of_type

    def match(self, n: Node) -> bool:  # pseudo_classes.go:282-304
        if n.type != ELEMENT_NODE or n.parent is None:
            return False
        count = 0
        c = n.parent.first_child
        while c is not None:
            if c.type == ELEMENT_NODE and not (self.of_type and c.data != n.data):
                count += 1
                if count > 1:
                    return False
            c = c.next_sibling
        return count == 1


class _InputPseudo:
    __slots__ = ()

    def match(self, n: Node) -> bool:
        return n.type == ELEMENT_NODE and n.data in (
            "input", "select", "textarea", "button",
        )


class _EmptyPseudo:
    __slots__ = ()

    def match(self, n: Node) -> bool:  # pseudo_classes.go:320-339
        if n.type != ELEMENT_NODE:
            return False
        c = n.first_child
        while c is not None:
            if c.type == ELEMENT_NODE:
                return False
            if c.type == TEXT_NODE and c.data.strip() != "":
                return False
            c = c.next_sibling
        return True


class _RootPseudo:
    __slots__ = ()

    def match(self, n: Node) -> bool:
        return (
            n.type == ELEMENT_NODE
            and n.parent is not None
            and n.parent.type == DOCUMENT_NODE
        )


class _LinkPseudo:
    __slots__ = ()

    def match(self, n: Node) -> bool:
        return (
            n.type == ELEMENT_NODE
            and n.data in ("a", "area", "link")
            and n.get_attr("href") is not None
        )


class _LangPseudo:
    __slots__ = ("lang",)

    def __init__(self, lang):
        self.lang = lang

    def match(self, n: Node) -> bool:  # pseudo_classes.go:374-382
        while n is not None:
            if n.type == ELEMENT_NODE:
                v = n.get_attr("lang")
                if v is not None and (
                    v == self.lang or v.startswith(self.lang + "-")
                ):
                    return True
            n = n.parent
        return False


def _in_disabled_fieldset(n: Node) -> bool:  # pseudo_classes.go:429-438
    p = n.parent
    if p is None:
        return False
    if (
        p.type == ELEMENT_NODE
        and p.data == "fieldset"
        and p.get_attr("disabled") is not None
    ):
        if n.data != "legend" or _has_legend_in_prev_siblings(n):
            return True
    return _in_disabled_fieldset(p)


def _has_legend_in_prev_siblings(n: Node) -> bool:
    s = n.prev_sibling
    while s is not None:
        if s.type == ELEMENT_NODE and s.data == "legend":
            return True
        s = s.prev_sibling
    return False


class _EnabledPseudo:
    __slots__ = ()

    def match(self, n: Node) -> bool:  # pseudo_classes.go:388-401
        if n.type != ELEMENT_NODE:
            return False
        t = n.data
        if t in ("a", "area", "link"):
            return n.get_attr("href") is not None
        if t in ("optgroup", "menuitem", "fieldset"):
            return n.get_attr("disabled") is None
        if t in ("button", "input", "select", "textarea", "option"):
            return n.get_attr("disabled") is None and not _in_disabled_fieldset(n)
        return False


class _DisabledPseudo:
    __slots__ = ()

    def match(self, n: Node) -> bool:  # pseudo_classes.go:407-418
        if n.type != ELEMENT_NODE:
            return False
        t = n.data
        if t in ("optgroup", "menuitem", "fieldset"):
            return n.get_attr("disabled") is not None
        if t in ("button", "input", "select", "textarea", "option"):
            return n.get_attr("disabled") is not None or _in_disabled_fieldset(n)
        return False


class _CheckedPseudo:
    __slots__ = ()

    def match(self, n: Node) -> bool:  # pseudo_classes.go:444-458
        if n.type != ELEMENT_NODE:
            return False
        if n.data in ("input", "menuitem"):
            if n.get_attr("checked") is None:
                return False
            t = n.get_attr("type")
            return t is not None and _lower_ascii(t) in ("checkbox", "radio")
        if n.data == "option":
            return n.get_attr("selected") is not None
        return False


# ---------------------------------------------------------------------------
# Parser (parser.go semantics, same method-per-production structure)
# ---------------------------------------------------------------------------

_PSEUDO_ELEMENTS = frozenset(
    "after backdrop before cue first-letter first-line grammar-error marker "
    "placeholder selection spelling-error".split()
)


class _Parser:
    def __init__(self, s: str):
        self.s = s
        self.i = 0

    def _err(self, msg: str):
        raise SelectorError(msg)

    # --- lexical helpers ---------------------------------------------------

    def parse_escape(self) -> str:  # parser.go:23-59
        s, i = self.s, self.i
        if len(s) < i + 2 or s[i] != "\\":
            self._err("invalid escape sequence")
        start = i + 1
        c = s[start]
        if c in "\r\n\f":
            self._err("escaped line ending outside string")
        if c in _HEX:
            j = start
            while j < start + 6 and j < len(s) and s[j] in _HEX:
                j += 1
            v = int(s[start:j], 16)
            if len(s) > j:
                if s[j] == "\r":
                    j += 1
                    if len(s) > j and s[j] == "\n":
                        j += 1
                elif s[j] in " \t\n\f":
                    j += 1
            self.i = j
            if 0xD800 <= v <= 0xDFFF:
                # Go string(rune(v)) renders surrogate code points as U+FFFD
                # (cascadia parser.go hex-escape path); Python chr() would
                # happily produce a lone surrogate here.
                return "�"
            try:
                return chr(v)
            except (ValueError, OverflowError):
                return "�"
        self.i += 2
        return c

    def parse_identifier(self) -> str:  # parser.go:99-121
        s = self.s
        num_prefix = 0
        while self.i < len(s) and s[self.i] == "-":
            self.i += 1
            num_prefix += 1
        if self.i >= len(s):
            self._err("expected identifier, found EOF instead")
        c = s[self.i]
        if not (_name_start(c) or c == "\\"):
            self._err("expected identifier, found %r instead" % c)
        return "-" * num_prefix + self.parse_name()

    def parse_name(self) -> str:  # parser.go:125-156
        s = self.s
        i = self.i
        result = []
        while i < len(s):
            c = s[i]
            if _name_char(c):
                start = i
                while i < len(s) and _name_char(s[i]):
                    i += 1
                result.append(s[start:i])
            elif c == "\\":
                self.i = i
                result.append(self.parse_escape())
                i = self.i
            else:
                break
        if not result:
            self._err("expected name, found EOF instead")
        self.i = i
        return "".join(result)

    def parse_string(self) -> str:  # parser.go:159-217
        s = self.s
        i = self.i
        if len(s) < i + 2:
            self._err("expected string, found EOF instead")
        quote = s[i]
        i += 1
        result = []
        while i < len(s):
            c = s[i]
            if c == "\\":
                if len(s) > i + 1:
                    nc = s[i + 1]
                    if nc == "\r":
                        i += 3 if (len(s) > i + 2 and s[i + 2] == "\n") else 2
                        continue
                    if nc in "\n\f":
                        i += 2
                        continue
                self.i = i
                result.append(self.parse_escape())
                i = self.i
            elif c == quote:
                break
            elif c in "\r\n\f":
                self._err("unexpected end of line in string")
            else:
                start = i
                while i < len(s) and s[i] not in (quote + "\\\r\n\f"):
                    i += 1
                result.append(s[start:i])
        if i >= len(s):
            self._err("EOF in string")
        self.i = i + 1  # consume closing quote
        return "".join(result)

    def parse_regex(self):  # parser.go:221-251
        s = self.s
        i = self.i
        if len(s) < i + 2:
            self._err("expected regular expression, found EOF instead")
        open_ = 0
        while i < len(s):
            c = s[i]
            if c in "([":
                open_ += 1
            elif c in ")]":
                open_ -= 1
                if open_ < 0:
                    break
            i += 1
        if i >= len(s):
            self._err("EOF in regular expression")
        pat = s[self.i:i]
        reason = _re2_unsafe(pat)
        if reason is not None:
            # Go compiles with regexp (RE2), which REJECTS this construct;
            # Python re would accept it with backtracking semantics. Reject
            # at compile → invalid matcher, so accepted patterns never
            # silently diverge from cascadia.
            self._err("non-RE2 regular expression construct: %s" % reason)
        try:
            rx = re.compile(pat)
        except re.error as e:
            self._err("invalid regular expression: %s" % e)
        self.i = i
        return rx

    def skip_whitespace(self) -> bool:  # parser.go:255-280
        s = self.s
        i = self.i
        while i < len(s):
            c = s[i]
            if c in _WS:
                i += 1
                continue
            if c == "/" and s.startswith("/*", i):
                end = s.find("*/", i + 2)
                if end != -1:
                    i = end + 2
                    continue
            break
        if i > self.i:
            self.i = i
            return True
        return False

    def consume_parenthesis(self) -> bool:
        if self.i < len(self.s) and self.s[self.i] == "(":
            self.i += 1
            self.skip_whitespace()
            return True
        return False

    def consume_closing_parenthesis(self) -> bool:
        i = self.i
        self.skip_whitespace()
        if self.i < len(self.s) and self.s[self.i] == ")":
            self.i += 1
            return True
        self.i = i
        return False

    # --- productions ---------------------------------------------------------

    def parse_attribute_selector(self) -> _AttrSel:  # parser.go:352-438
        s = self.s
        self.i += 1  # '['
        self.skip_whitespace()
        key = _lower_ascii(self.parse_identifier())
        self.skip_whitespace()
        if self.i >= len(s):
            self._err("unexpected EOF in attribute selector")
        if s[self.i] == "]":
            self.i += 1
            return _AttrSel(key, "", "")
        if self.i + 2 >= len(s):
            self._err("unexpected EOF in attribute selector")
        op = s[self.i:self.i + 2]
        if op[0] == "=":
            op = "="
        elif op[1] != "=":
            self._err("expected equality operator, found %r instead" % op)
        self.i += len(op)
        self.skip_whitespace()
        if self.i >= len(s):
            self._err("unexpected EOF in attribute selector")
        val = ""
        rx = None
        if op == "#=":
            rx = self.parse_regex()
        elif s[self.i] in "'\"":
            val = self.parse_string()
        else:
            val = self.parse_identifier()
        self.skip_whitespace()
        if self.i >= len(s):
            self._err("unexpected EOF in attribute selector")
        ignore_case = False
        if s[self.i] in "iI":
            ignore_case = True
            self.i += 1
        self.skip_whitespace()
        if self.i >= len(s):
            self._err("unexpected EOF in attribute selector")
        if s[self.i] != "]":
            self._err("expected ']', found %r instead" % s[self.i])
        self.i += 1
        if op not in ("", "=", "!=", "~=", "|=", "^=", "$=", "*=", "#="):
            self._err("attribute operator %r is not supported" % op)
        return _AttrSel(key, val, op, rx, ignore_case)

    def parse_pseudoclass(self):  # parser.go:450-609
        s = self.s
        self.i += 1  # ':'
        if self.i >= len(s):
            self._err("got empty pseudoclass (or pseudoelement)")
        must_be_element = False
        if s[self.i] == ":":
            must_be_element = True
            self.i += 1
        name = _lower_ascii(self.parse_identifier())
        if must_be_element and name not in _PSEUDO_ELEMENTS:
            self._err("unknown pseudoelement :%s" % name)

        if name in ("not", "has", "haschild"):
            if not self.consume_parenthesis():
                self._err("expected '(' but didn't find it")
            group = self.parse_selector_group()
            if not self.consume_closing_parenthesis():
                self._err("expected ')' but didn't find it")
            return _RelativePseudo(name, group)
        if name in ("contains", "containsown"):
            if not self.consume_parenthesis():
                self._err("expected '(' but didn't find it")
            if self.i == len(s):
                self._err("unmatched '('")
            if s[self.i] in "'\"":
                val = self.parse_string()
            else:
                val = self.parse_identifier()
            val = val.lower()
            self.skip_whitespace()
            if self.i >= len(s):
                self._err("unexpected EOF in pseudo selector")
            if not self.consume_closing_parenthesis():
                self._err("expected ')' but didn't find it")
            return _ContainsPseudo(val, name == "containsown")
        if name in ("matches", "matchesown"):
            if not self.consume_parenthesis():
                self._err("expected '(' but didn't find it")
            rx = self.parse_regex()
            if self.i >= len(s):
                self._err("unexpected EOF in pseudo selector")
            if not self.consume_closing_parenthesis():
                self._err("expected ')' but didn't find it")
            return _RegexpPseudo(rx, name == "matchesown")
        if name in ("nth-child", "nth-last-child", "nth-of-type", "nth-last-of-type"):
            if not self.consume_parenthesis():
                self._err("expected '(' but didn't find it")
            a, b = self.parse_nth()
            if not self.consume_closing_parenthesis():
                self._err("expected ')' but didn't find it")
            return _NthPseudo(
                a, b,
                last=name in ("nth-last-child", "nth-last-of-type"),
                of_type=name in ("nth-of-type", "nth-last-of-type"),
            )
        if name == "first-child":
            return _NthPseudo(0, 1, last=False, of_type=False)
        if name == "last-child":
            return _NthPseudo(0, 1, last=True, of_type=False)
        if name == "first-of-type":
            return _NthPseudo(0, 1, last=False, of_type=True)
        if name == "last-of-type":
            return _NthPseudo(0, 1, last=True, of_type=True)
        if name == "only-child":
            return _OnlyChildPseudo(False)
        if name == "only-of-type":
            return _OnlyChildPseudo(True)
        if name == "input":
            return _InputPseudo()
        if name == "empty":
            return _EmptyPseudo()
        if name == "root":
            return _RootPseudo()
        if name == "link":
            return _LinkPseudo()
        if name == "lang":
            if not self.consume_parenthesis():
                self._err("expected '(' but didn't find it")
            if self.i == len(s):
                self._err("unmatched '('")
            val = self.parse_identifier().lower()
            self.skip_whitespace()
            if self.i >= len(s):
                self._err("unexpected EOF in pseudo selector")
            if not self.consume_closing_parenthesis():
                self._err("expected ')' but didn't find it")
            return _LangPseudo(val)
        if name == "enabled":
            return _EnabledPseudo()
        if name == "disabled":
            return _DisabledPseudo()
        if name == "checked":
            return _CheckedPseudo()
        if name in ("visited", "hover", "active", "focus", "target"):
            return _NeverMatch()
        if name in _PSEUDO_ELEMENTS:
            # Compile path rejects pseudo-elements (parser.go:809-811 with
            # acceptPseudoElements=false via cascadia.Compile)
            self._err(
                "pseudo-element %s found, but pseudo-elements support is "
                "disabled" % name
            )
        self._err("unknown pseudoclass or pseudoelement :%s" % name)

    def parse_integer(self) -> int:
        s = self.s
        start = self.i
        i = start
        while i < len(s) and s[i].isdigit() and s[i].isascii():
            i += 1
        if i == start:
            self._err("expected integer, but didn't find it")
        self.i = i
        return int(s[start:i])

    def parse_nth(self):  # parser.go:632-750 (same state machine)
        s = self.s
        if self.i >= len(s):
            self._err("unexpected EOF while attempting to parse expression of form an+b")
        c = s[self.i]
        if c == "-":
            self.i += 1
            neg = True
        elif c == "+":
            self.i += 1
            neg = False
        elif c.isdigit() and c.isascii():
            neg = False
        elif c in "nN":
            a = 1
            self.i += 1
            return self._parse_nth_read_n(a)
        elif c in "oOeE":
            ident = _lower_ascii(self.parse_name())
            if ident == "odd":
                return 2, 1
            if ident == "even":
                return 2, 0
            self._err("expected 'odd' or 'even', but found %r instead" % ident)
        else:
            self._err("unexpected character while attempting to parse expression of form an+b")

        # positiveA / negativeA
        if self.i >= len(s):
            self._err("unexpected EOF while attempting to parse expression of form an+b")
        c = s[self.i]
        if c.isdigit() and c.isascii():
            a = self.parse_integer()
            if neg:
                a = -a
        elif c in "nN":
            a = -1 if neg else 1
            self.i += 1
            return self._parse_nth_read_n(a)
        else:
            self._err("unexpected character while attempting to parse expression of form an+b")

        # readA
        if self.i >= len(s):
            self._err("unexpected EOF while attempting to parse expression of form an+b")
        if s[self.i] in "nN":
            self.i += 1
            return self._parse_nth_read_n(a)
        # the number read as a is actually b
        return 0, a

    def _parse_nth_read_n(self, a):
        s = self.s
        self.skip_whitespace()
        if self.i >= len(s):
            self._err("unexpected EOF while attempting to parse expression of form an+b")
        c = s[self.i]
        if c == "+":
            self.i += 1
            self.skip_whitespace()
            return a, self.parse_integer()
        if c == "-":
            self.i += 1
            self.skip_whitespace()
            return a, -self.parse_integer()
        return a, 0

    def parse_simple_selector_sequence(self):  # parser.go:754-825
        s = self.s
        if self.i >= len(s):
            self._err("expected selector, found EOF instead")
        selectors = []
        c = s[self.i]
        if c == "*":
            self.i += 1
            # cascadia: `*|*` universal variant — note the strict `i+2 < len`
            # guard means a trailing "*|*" does NOT consume "|*" (parser.go:765)
            if self.i + 2 < len(s) and s[self.i:self.i + 2] == "|*":
                self.i += 2
        elif c not in "#.[:":
            selectors.append(_TagSel(_lower_ascii(self.parse_identifier())))

        while self.i < len(s):
            c = s[self.i]
            if c == "#":
                self.i += 1
                selectors.append(_IdSel(self.parse_name()))
            elif c == ".":
                self.i += 1
                selectors.append(_ClassSel(self.parse_identifier()))
            elif c == "[":
                selectors.append(self.parse_attribute_selector())
            elif c == ":":
                selectors.append(self.parse_pseudoclass())
            else:
                break
        if len(selectors) == 1:
            return selectors[0]
        return _Compound(selectors)

    def parse_selector(self):  # parser.go:828-867
        self.skip_whitespace()
        result = self.parse_simple_selector_sequence()
        while True:
            combinator = ""
            if self.skip_whitespace():
                combinator = " "
            if self.i >= len(self.s):
                return result
            c = self.s[self.i]
            if c in "+>~":
                combinator = c
                self.i += 1
                self.skip_whitespace()
            elif c in ",)":
                return result
            if combinator == "":
                return result
            second = self.parse_simple_selector_sequence()
            result = _Combined(result, combinator, second)

    def parse_selector_group(self) -> _Group:  # parser.go:870-889
        result = [self.parse_selector()]
        while self.i < len(self.s):
            if self.s[self.i] != ",":
                break
            self.i += 1
            result.append(self.parse_selector())
        return _Group(result)


def parse_group(sel: str) -> _Group:
    """cascadia.ParseGroup + the leftover-bytes check (selector.go:64-76).

    Raises SelectorError on invalid input — callers that need goquery Find
    semantics (invalid → match nothing) catch it (htmldom.query.find_all).
    """
    p = _Parser(sel)
    g = p.parse_selector_group()
    if p.i < len(sel):
        raise SelectorError(
            "parsing %r: %d bytes left over" % (sel, len(sel) - p.i)
        )
    return g
