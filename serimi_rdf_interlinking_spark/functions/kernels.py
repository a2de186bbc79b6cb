"""Pure-Python string-metric kernels with reference parity.

These re-derive, from observed behavior, the exact scalar functions the
reference composes for candidate filtering:

* the four simmetrics v1.6.2 metrics used by the `xmatch` ensemble
  (reference extension_module.rb:105-119 calls the simmetrics JAR loaded
  at extension_module.rb:6-7) — Jaro, JaroWinkler, Levenshtein,
  QGramsDistance (q=3, '#'-extended) and Soundex (code compared with
  JaroWinkler). Formulas re-derived from the public simmetrics library
  semantics (the JAR ships with the public reference repo).
* the reference's own hand-rolled pseudo-Jaro `jarowinkler_similar`
  (extension_module.rb:145-217) — note: NO Winkler prefix bonus despite
  the name, a transposition loop without break, and `str2[0]` never
  being examined by the match window. Ported quirk-for-quirk.
* normalization (extension_module.rb:45-49), accent folding
  (extension_module.rb:20-43,121-129), initial-expansion matching
  (matching_module.rb:254-310) and the composite
  `advanced_string_matching` (matching_module.rb:24-61).

Everything here is plain Python/NumPy-free scalar code; the Spark entry
points wrap these in Arrow-batched pandas UDFs (functions/udfs.py), never
row-at-a-time Python UDFs.
"""

from __future__ import annotations

import math
import re
from functools import lru_cache

# ---------------------------------------------------------------------------
# normalization (T1, T2)
# ---------------------------------------------------------------------------

_NON_WORD = re.compile(r"[^A-Za-z0-9_]")
# Ruby 1.8 regexes are byte-based: any non-ASCII byte is \W, so accented
# characters are folded to spaces during normalization *before*
# removeaccents ever runs (extension_module.rb:47 applies /\W/ first).
# The ASCII character class above reproduces that.


def keyword_normalization(s: str) -> str:
    """Reference extension_module.rb:45-49.

    split on whitespace; per token: non-word -> space, '_' -> space,
    strip; join with single spaces; lowercase.  Inner spaces introduced
    by the substitution survive (consumers re-split on whitespace).
    """
    toks = s.split()
    out = [_NON_WORD.sub(" ", t).replace("_", " ").strip() for t in toks]
    return " ".join(out).lower()


_ACCENTS_MAPPING = {
    "E": [200, 201, 202, 203],
    "e": [232, 233, 234, 235],
    "A": [192, 193, 194, 195, 196, 197],
    "a": [224, 225, 226, 227, 228, 229, 230],
    "C": [199],
    "c": [231],
    "O": [210, 211, 212, 213, 214, 216],
    "o": [242, 243, 244, 245, 246, 248],
    "I": [204, 205, 206, 207],
    "i": [236, 237, 238, 239],
    "U": [217, 218, 219, 220],
    "u": [249, 250, 251, 252],
    "N": [209],
    "n": [241],
    "Y": [221],
    "y": [253, 255],
    "AE": [306],
    "ae": [346],
    "OE": [188],
    "oe": [189],
}
_ACCENT_TRANS = {cp: repl for repl, cps in _ACCENTS_MAPPING.items() for cp in cps}


def removeaccents(s: str) -> str:
    """Reference extension_module.rb:121-129 — explicit codepoint map
    (exact table, not ICU normalization, for parity)."""
    return s.translate(_ACCENT_TRANS)


# ---------------------------------------------------------------------------
# simmetrics v1.6.2 metrics (T4) — re-derived formulas
# ---------------------------------------------------------------------------


def _jaro_common(s: str, t: str, halflen: int) -> str:
    """Matched characters of s within t (window +-halflen, consuming)."""
    tl = list(t)
    lt = len(t)
    common = []
    for i, ch in enumerate(s):
        lo = max(0, i - halflen)
        hi = min(i + halflen, lt)  # exclusive
        for j in range(lo, hi):
            if tl[j] == ch:
                common.append(ch)
                tl[j] = "\0"
                break
    return "".join(common)


def simm_jaro(a: str, b: str) -> float:
    """simmetrics Jaro: halflen = min(|a|,|b|)//2 + 1; zero when the two
    common-character strings differ in length."""
    la, lb = len(a), len(b)
    halflen = min(la, lb) // 2 + 1
    c1 = _jaro_common(a, b, halflen)
    c2 = _jaro_common(b, a, halflen)
    if not c1 or not c2:
        return 0.0
    if len(c1) != len(c2):
        return 0.0
    transpositions = int(sum(x != y for x, y in zip(c1, c2)) / 2.0)
    n = len(c1)
    return (n / la + n / lb + (n - transpositions) / n) / 3.0


def _prefix_len(a: str, b: str, cap: int = 6) -> int:
    n = min(cap, len(a), len(b))
    for i in range(n):
        if a[i] != b[i]:
            return i
    return n


def simm_jaro_winkler(a: str, b: str) -> float:
    """simmetrics JaroWinkler: jaro + prefix*0.1*(1-jaro), prefix<=6."""
    j = simm_jaro(a, b)
    return j + _prefix_len(a, b) * 0.1 * (1.0 - j)


def simm_levenshtein(a: str, b: str) -> float:
    """simmetrics Levenshtein: 1 - dist/max(|a|,|b|); 1.0 on two empties."""
    la, lb = len(a), len(b)
    mx = max(la, lb)
    if mx == 0:
        return 1.0
    if la == 0:
        return 1.0 - lb / mx
    if lb == 0:
        return 1.0 - la / mx
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        ca = a[i - 1]
        for j in range(1, lb + 1):
            cost = 0 if ca == b[j - 1] else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
        prev = cur
    return 1.0 - prev[lb] / mx


def _qgrams3_extended(s: str) -> list[str]:
    """simmetrics TokeniserQGram3Extended: '##'+s+'##', all 3-windows."""
    p = "##" + s + "##"
    return [p[i : i + 3] for i in range(len(p) - 2)]


def simm_qgrams_distance(a: str, b: str) -> float:
    """simmetrics QGramsDistance over extended 3-grams:
    (n1+n2 - sum_t |c1(t)-c2(t)|) / (n1+n2)."""
    t1 = _qgrams3_extended(a)
    t2 = _qgrams3_extended(b)
    total = len(t1) + len(t2)
    if total == 0:
        return 0.0
    c1: dict[str, int] = {}
    c2: dict[str, int] = {}
    for g in t1:
        c1[g] = c1.get(g, 0) + 1
    for g in t2:
        c2[g] = c2.get(g, 0) + 1
    diff = 0
    for g in set(c1) | set(c2):
        diff += abs(c1.get(g, 0) - c2.get(g, 0))
    return (total - diff) / total


_SOUNDEX_SUBS = [
    (re.compile(r"[AEIOUWH]"), "0"),
    (re.compile(r"[BPFV]"), "1"),
    (re.compile(r"[CSKGJQXZ]"), "2"),
    (re.compile(r"[DT]"), "3"),
    (re.compile(r"[L]"), "4"),
    (re.compile(r"[MN]"), "5"),
    (re.compile(r"[R]"), "6"),
]
_NON_AZ = re.compile(r"[^A-Z]")


def simm_soundex_code(s: str, length: int = 6) -> str:
    """simmetrics Soundex.calcSoundEx — note the emitted code keeps the
    'X-' separator (e.g. 'R-163') and is truncated to `length`."""
    length = max(4, min(10, length))
    if not s:
        return ""
    t = _NON_AZ.sub(" ", s.upper())
    t = re.sub(r"\s+", "", t)
    if not t:
        return ""
    first = t[0]
    if len(t) > 25:
        t = "-" + t[1:24]
    else:
        t = "-" + t[1:]
    for rxp, rep in _SOUNDEX_SUBS:
        t = rxp.sub(rep, t)
    out = []
    last = "-"
    for c in t[1:]:
        if c != last:
            out.append(c)
            last = c
    t = "".join(out).replace("0", "")
    t = first + "-" + t + "000000000000000000"
    return t[:length]


def simm_soundex(a: str, b: str) -> float:
    """simmetrics Soundex similarity = JaroWinkler over the two codes."""
    return simm_jaro_winkler(simm_soundex_code(a), simm_soundex_code(b))


def simm_needleman_wunch(a: str, b: str, gap_cost: float = 2.0) -> float:
    """simmetrics NeedlemanWunch (default gap 2.0, 0/1 substitution).

    Quirk preserved: the DP's first row/column cost 1 per position (not
    gap_cost) — leading/trailing runs are cheaper than interior gaps."""
    la, lb = len(a), len(b)
    prev = [float(j) for j in range(lb + 1)]
    for i in range(1, la + 1):
        cur = [float(i)] + [0.0] * lb
        ca = a[i - 1]
        for j in range(1, lb + 1):
            cost = 0.0 if ca == b[j - 1] else 1.0
            cur[j] = min(prev[j] + gap_cost, cur[j - 1] + gap_cost, prev[j - 1] + cost)
        prev = cur
    nw = prev[lb]
    mx = float(max(la, lb))
    max_value = mx * max(1.0, gap_cost)
    min_value = mx * min(0.0, gap_cost)
    if max_value == min_value:
        return 1.0
    return 1.0 - (nw - min_value) / (max_value - min_value)


def simm_smith_waterman(a: str, b: str, gap_cost: float = 0.5) -> float:
    """simmetrics SmithWaterman (gap 0.5; match +1, mismatch -2):
    best local alignment score / (min(|a|,|b|) * 1); 1.0 when a side is
    empty."""
    la, lb = len(a), len(b)
    denom = float(min(la, lb)) * max(1.0, -gap_cost)
    if denom == 0:
        return 1.0
    best = 0.0
    d = [[0.0] * lb for _ in range(la)]
    for j in range(lb):
        cost = 1.0 if a[0] == b[j] else -2.0
        left = 0.0 if j == 0 else d[0][j - 1]
        d[0][j] = max(0.0, left - gap_cost, cost)
        best = max(best, d[0][j])
    for i in range(1, la):
        cost = 1.0 if a[i] == b[0] else -2.0
        d[i][0] = max(0.0, d[i - 1][0] - gap_cost, cost)
        best = max(best, d[i][0])
    for i in range(1, la):
        for j in range(1, lb):
            cost = 1.0 if a[i] == b[j] else -2.0
            d[i][j] = max(
                0.0,
                d[i - 1][j] - gap_cost,
                d[i][j - 1] - gap_cost,
                d[i - 1][j - 1] + cost,
            )
            if d[i][j] > best:
                best = d[i][j]
    return best / denom


# SubCost5_3_Minus3 approximate-character classes (from the simmetrics
# cost table): same-class lowercase pairs score +3 instead of -3.
_APPROX_SETS = [
    {"d", "t"}, {"g", "j"}, {"l", "r"}, {"m", "n"},
    {"b", "p", "v"}, {"a", "e", "i", "o", "u"}, {",", "."},
]


def _sub_cost_5_3_m3(a: str, i: int, b: str, j: int) -> float:
    if i < 0 or i >= len(a) or j < 0 or j >= len(b):
        return -3.0
    if a[i] == b[j]:
        return 5.0
    c1, c2 = a[i].lower(), b[j].lower()
    for s in _APPROX_SETS:
        if c1 in s and c2 in s:
            return 3.0
    return -3.0


def _affine_gap_5_1(i: int, j: int) -> float:
    """AffineGap5_1: gap from index i to j costs 5 + (j-1-i); 0 if i>=j."""
    if i >= j:
        return 0.0
    return 5.0 + (j - 1 - i)


def simm_smith_waterman_gotoh(a: str, b: str, window: int = 100) -> float:
    """simmetrics SmithWatermanGotoh (windowed affine gaps 5+1/char,
    substitution +5/+3/-3): best score / (min(|a|,|b|) * 5)."""
    la, lb = len(a), len(b)
    denom = float(min(la, lb)) * 5.0
    if denom == 0:
        return 1.0
    d = [[0.0] * lb for _ in range(la)]
    best = 0.0
    for j in range(lb):
        cost = _sub_cost_5_3_m3(a, 0, b, j)
        if j == 0:
            d[0][0] = max(0.0, cost)
        else:
            max_gap = 0.0
            for k in range(max(1, j - window), j):
                max_gap = max(max_gap, d[0][j - k] - _affine_gap_5_1(j - k, j))
            d[0][j] = max(0.0, max_gap, cost)
        best = max(best, d[0][j])
    for i in range(1, la):
        cost = _sub_cost_5_3_m3(a, i, b, 0)
        max_gap = 0.0
        for k in range(max(1, i - window), i):
            max_gap = max(max_gap, d[i - k][0] - _affine_gap_5_1(i - k, i))
        d[i][0] = max(0.0, max_gap, cost)
        best = max(best, d[i][0])
    for i in range(1, la):
        for j in range(1, lb):
            cost = _sub_cost_5_3_m3(a, i, b, j)
            max_gap1 = 0.0
            for k in range(max(1, i - window), i):
                max_gap1 = max(max_gap1, d[i - k][j] - _affine_gap_5_1(i - k, i))
            max_gap2 = 0.0
            for k in range(max(1, j - window), j):
                max_gap2 = max(max_gap2, d[i][j - k] - _affine_gap_5_1(j - k, j))
            d[i][j] = max(0.0, max_gap1, max_gap2, d[i - 1][j - 1] + cost)
            if d[i][j] > best:
                best = d[i][j]
    return best / denom


def simm_monge_elkan(a: str, b: str) -> float:
    """simmetrics MongeElkan: mean over a's whitespace tokens of the
    best SmithWatermanGotoh score against b's tokens (asymmetric;
    NaN-shaped 0-token edge mirrored as 0.0)."""
    a_toks = a.split()
    b_toks = b.split()
    if not a_toks:
        return float("nan")
    total = 0.0
    for x in a_toks:
        best = 0.0
        for y in b_toks:
            best = max(best, simm_smith_waterman_gotoh(x, y))
        total += best
    return total / len(a_toks)


# ---------------------------------------------------------------------------
# the reference's own pseudo-Jaro (T3)
# ---------------------------------------------------------------------------


def ref_jarowinkler_similar(str1: str | None, str2: str | None) -> float:
    """Quirk-exact port of extension_module.rb:145-217.

    Despite the name there is no Winkler prefix bonus. Quirks preserved:
    * str2[0] is never inside any match window (first = max(1, i-mid)).
    * the match loop runs i in 0..len1 inclusive (the extra index can
      never match — guarded here by iterating real chars only).
    * the transposition pass has no break: the first matched character
      of str1 consumes *all* matched positions j>=1 of str2, adding 0.5
      per character mismatch; later matches see an exhausted range.
    * result is capped at 1.
    """
    if str1 is None or str2 is None:
        return 0.0
    s1 = str1.strip()
    s2 = str2.strip()
    if s1 == s2:
        return 1.0
    if len(s1) > len(s2):
        s1, s2 = s2, s1
    lmax = len(s2)
    l1 = len(s1)
    found1 = [False] * l1
    found2 = [False] * len(s2)
    midpoint = l1 // 2 - 1
    common = 0
    for i in range(l1):  # i == l1 can never match (nil char) — skip it
        if midpoint >= i:
            first, last = 1, i + midpoint
        else:
            first, last = i - midpoint, i + midpoint
        if last > lmax:
            last = lmax
        for j in range(first, last + 1):  # Ruby inclusive range
            if j < 0 or j >= len(s2):
                continue  # Ruby str2[j] would be nil; never equals a char
            if s2[j] == s1[i] and not found2[j]:
                common += 1
                found1[i] = True
                found2[j] = True
                break
    last_match = 1
    tr = 0.0
    for i in range(l1):
        if found1[i]:
            # Ruby: for j in (last_match..found2.length) — range fixed at
            # entry, no break; every found2[j] updates last_match and may
            # add 0.5. found2[len(s2)] is nil (falsy) — excluded here.
            start = last_match
            for j in range(start, len(s2)):
                if found2[j]:
                    last_match = j + 1
                    if s1[i] != s2[j]:
                        tr += 0.5
    if common > 0:
        third = 1.0 / 3
        val = (
            third * common / l1
            + third * common / len(s2)
            + third * (common - tr) / common
        )
        return min(val, 1.0)
    return 0.0


# ---------------------------------------------------------------------------
# xmatch ensemble (T5) + initial expansion (T6)
# ---------------------------------------------------------------------------


def xmatch(a: str, b: str) -> float:
    """extension_module.rb:105-119: ((JW + LEV + QGRAM) * SOUNDEX) / 3."""
    av = 0.0
    av += simm_jaro_winkler(a, b)
    av += simm_levenshtein(a, b)
    av += simm_qgrams_distance(a, b)
    av *= simm_soundex(a, b)
    return av / 3.0


def _expand_word(single_char_tokens: list[str], other: str) -> dict[str, list[str]]:
    """matching_module.rb:211-224: map each 1-char token to every token
    of `other` sharing its first character."""
    out: dict[str, list[str]] = {}
    other_toks = other.split()
    for x in single_char_tokens:
        for y in other_toks:
            if y and x and y[0] == x[0]:
                out.setdefault(x, []).append(y)
    return out


def _permute_expansion(tokens: list[str], expanded: dict[str, list[str]]) -> list[list[list[str]]]:
    """matching_module.rb:293-310 composed with the monkey-patched
    Array#permutation (extension_module.rb:221-256).

    The reference's permutation sorts every arrangement's elements by
    their joined string and dedups, so all full-size permutations
    collapse to ONE canonical arrangement: the elements of c ordered by
    ''.join(element). (A word with several expansions contributes *all*
    of them inside one element — they are flattened into the phrase.)
    """
    c = [expanded.get(t, [t]) for t in tokens]
    if len(c) == 1:
        return [c]
    return [sorted(c, key=lambda e: "".join(e))]


def _flat(arrangement: list[list[str]]) -> str:
    return " ".join(tok for el in arrangement for tok in el)


def xmatch_with_expansion(a: str, b: str) -> float:
    """matching_module.rb:254-289. Initial expansion only when either
    side has a 1-char token and both sides have <=4 tokens; tries the
    canonical arrangement forward/reversed against the other side
    forward/reversed and takes the max xmatch.

    Faithful quirk: the reference is ASYMMETRIC here — when BOTH sides
    carry 1-char tokens, only side a expands (`elsif aa.size > 0`
    precedes the b branch), so f(a,b) != f(b,a) is possible
    (hypothesis-verified in tests/test_properties.py)."""
    if len(a) == 0 and len(b) == 0:
        return 1.0
    # Ruby split(" ") is the awk-style whitespace split.
    a1 = a.split()
    b1 = b.split()
    aa = [x for x in a1 if len(x) == 1]
    bb = [x for x in b1 if len(x) == 1]
    if (not aa and not bb) or (len(a1) > 4 or len(b1) > 4):
        # no-expansion path: the RAW strings reach xmatch (multi-space
        # runs survive into the character metrics) — matching_module.rb:266.
        return xmatch(a, b)
    if aa:
        phrases = _permute_expansion(a1, _expand_word(aa, b))
        other_f = " ".join(b1)
        other_r = " ".join(reversed(b1))
    else:
        phrases = _permute_expansion(b1, _expand_word(bb, a))
        other_f = " ".join(a1)
        other_r = " ".join(reversed(a1))
    best = -math.inf
    for x in phrases:
        fwd = _flat(x)
        rev = _flat(list(reversed(x)))
        best = max(
            best,
            xmatch(fwd, other_f),
            xmatch(rev, other_f),
            xmatch(rev, other_r),
            xmatch(fwd, other_r),
        )
    return best


# ---------------------------------------------------------------------------
# set kernels (A8) — Ruby Array set-op semantics
# ---------------------------------------------------------------------------


def _unique_intersection_size(x: list, y: list) -> int:
    """Ruby x & y: unique elements of x also present in y."""
    return len(set(x) & set(y))


def _unique_difference_size(y: list, x: list) -> int:
    """Ruby (y - x).uniq.size: unique elements of y not in x."""
    return len(set(y) - set(x))


def jaccard_tokens(x: list, y: list) -> float:
    """serimi_class.rb:311-314 — unique-counting jaccard; 1.0 on two
    empties."""
    if len(x) == 0 and len(y) == 0:
        return 1.0
    union = len(set(x) | set(y))
    if union == 0:
        return 1.0  # unreachable given the guard, kept for safety
    return _unique_intersection_size(x, y) / union


def tversky(x: list, y: list, alpha: float, betha: float) -> float:
    """serimi_class.rb:328-331 — NOTE: subtractive form, not a ratio:
    |x&y|_uniq - alpha*|uniq(x-y)| - betha*|uniq(y-x)|."""
    return (
        _unique_intersection_size(x, y)
        - alpha * _unique_difference_size(x, y)
        - betha * _unique_difference_size(y, x)
    )


def betha2(x: list, y: list) -> float:
    """serimi_class.rb:324-326 — 1/(|x|+|y|) with multiplicity."""
    return 1.0 / (len(x) + len(y))


def hm(x: list, y: list, c: float) -> float:
    """SetSim kernel (serimi_class.rb:300-309, tech report Eq. 1-3):
    0 when the unique intersection is empty, else
    (1/c^2) * (|x&y| - |uniq(y-x)| / (|x|+|y|))."""
    inter = _unique_intersection_size(x, y)
    if inter == 0:
        return 0.0
    return (1.0 / (c * c)) * tversky(x, y, 0.0, betha2(x, y))


def dice(x: list, y: list) -> float:
    """serimi_class.rb:316-318 (present in the reference, unused by hm)."""
    return 2.0 * _unique_intersection_size(x, y) / (len(x) + len(y))


# ---------------------------------------------------------------------------
# composite matcher (T7, T8) and stats helpers (A4, T13)
# ---------------------------------------------------------------------------


def advanced_string_matching(a: str, b: str, stopwords: tuple[str, ...] = ()) -> float:
    """matching_module.rb:24-61.

    score1 = max(xmatch_with_expansion(s1,s2), jaccard(tokens))
    and, when both stopword-stripped strings are non-empty,
    score = (score1 + max(xmatch_nsw, jaccard_nsw)) / 2.
    """
    s1 = removeaccents(keyword_normalization(a))
    s2 = removeaccents(keyword_normalization(b))
    s1_aa = s1.split()  # Ruby split(" ") == awk whitespace split
    s2_aa = s2.split()
    sw = set(stopwords)
    s1_a = [t for t in s1_aa if t not in sw]
    s2_a = [t for t in s2_aa if t not in sw]
    s1_nsw = " ".join(s1_a)
    s2_nsw = " ".join(s2_a)
    # the RAW normalized strings (not re-joined tokens) feed the first
    # xmatch_with_expansion — matching_module.rb:46.
    score1 = max(
        xmatch_with_expansion(s1, s2),
        jaccard_tokens(s1_aa, s2_aa),
    )
    score = score1
    if len(s1_nsw) > 0 and len(s2_nsw) > 0:
        score2 = xmatch_with_expansion(s1_nsw, s2_nsw)
        score3 = jaccard_tokens(s1_a, s2_a)
        score = (score1 + max(score2, score3)) / 2.0
    return float(score)


def max_jaro(a: str, labels: list[str], stopwords: tuple[str, ...] = ()) -> float:
    """T8 (serimi_module.rb:109-123): the SUM (not max) of
    advanced_string_matching over all searched labels."""
    return float(sum(advanced_string_matching(a, x, stopwords) for x in labels))


def fmeasure(a: float, b: float) -> float:
    """matching_module.rb:116-119 — zero-guarded harmonic mean."""
    if a == 0 or b == 0:
        return 0.0
    return 2.0 * a * b / (a + b)


def mean(xs: list[float]) -> float:
    """matching_module.rb:14-16."""
    return sum(xs) / float(len(xs))


def mean_and_standard_deviation(xs: list[float]) -> tuple[float, float]:
    """matching_module.rb:18-22 — population stddev."""
    m = mean(xs)
    var = sum((x - m) ** 2 for x in xs)
    return m, math.sqrt(var / len(xs))


def median(xs: list[float]) -> float:
    """matching_module.rb:8-12 — sorted[n//2] (upper median)."""
    return sorted(xs)[len(xs) // 2]


# ---------------------------------------------------------------------------
# date / numeric literal heuristics (T9, T10)
# ---------------------------------------------------------------------------

_DATE_MDY = re.compile(r"^\s*(\d{1,2})/(\d{1,2})/(\d+)")
_DATE_YMD = re.compile(r"^\s*(\d+)-(\d{1,2})-(\d{1,2})")


def valid_date(s: str) -> bool:
    """T9 (serimi_module.rb:127-129): Date.strptime '%m/%d/%Y' else
    '%Y-%m-%d' else false. Ruby strptime tolerates trailing garbage;
    month/day ranges are validated."""
    for rxp, order in ((_DATE_MDY, "mdy"), (_DATE_YMD, "ymd")):
        mt = rxp.match(s)
        if mt:
            if order == "mdy":
                mo, dy = int(mt.group(1)), int(mt.group(2))
            else:
                mo, dy = int(mt.group(2)), int(mt.group(3))
            if 1 <= mo <= 12 and 1 <= dy <= 31:
                return True
    return False


_LEADING_INT = re.compile(r"^[+-]?\d+")


def ruby_to_i(s: str) -> int:
    """Ruby String#to_i: parse a leading integer, else 0."""
    mt = _LEADING_INT.match(s.strip() if s else "")
    return int(mt.group(0)) if mt else 0


def is_numericish(s: str) -> bool:
    """T10 eligibility test o.to_i != 0 (serimi_module.rb:45)."""
    return ruby_to_i(s) != 0


def is_pure_number(s: str) -> bool:
    """T10 label test (serimi_module.rb:251): true when the literal is a
    pure int or pure float (Ruby `o.to_i.to_s.size == o.to_s.size` or
    float analogue)."""
    if s is None:
        return False
    try:
        if str(int(s)) == s:
            return True
    except ValueError:
        pass
    try:
        f = float(s)
    except ValueError:
        return False
    # Ruby Float#to_s prints e.g. '1.5'; compare canonical round-trips.
    return repr(f) == s


# cache the hot composite on bounded keys — candidate filtering re-scores
# the same (keyword, literal) pairs across groups within a chunk.
@lru_cache(maxsize=65536)
def advanced_string_matching_cached(a: str, b: str, stopwords: tuple[str, ...]) -> float:
    return advanced_string_matching(a, b, stopwords)


def _expansion_eligible(s1: str, s2: str) -> bool:
    """Mirror of xmatch_with_expansion's branch condition
    (matching_module.rb:258-266): expansion applies iff either side has
    a 1-char token AND both sides have <= 4 tokens."""
    a1, b1 = s1.split(), s2.split()
    if len(a1) > 4 or len(b1) > 4:
        return False
    return any(len(x) == 1 for x in a1) or any(len(x) == 1 for x in b1)


def asm_passes(
    a: str, b: str, stopwords: tuple[str, ...], threshold: float
) -> bool:
    """Exact decision `advanced_string_matching(a,b) > threshold`
    without always paying for xmatch_with_expansion.

    F11 filtering (search_module.rb:255-260) only consumes the BOOLEAN,
    so two sound bounds short-circuit the expensive ensemble:

    * lower bound: score1 >= jaccard(tokens) and the nsw term >=
      jaccard(nsw tokens), so (j1 [+ j2]) already above the threshold
      proves a pass;
    * upper bound (no-expansion path only): xmatch =
      (JW + LEV + QGRAM) * SOUNDEX / 3 <= SOUNDEX because the three
      metrics are normalized to [0,1] — so max(soundex, jaccard) at or
      below the threshold on both terms proves a fail. Soundex costs
      ~1/7 of the full composite and is <= 0.7 for ~80% of
      random-name pairs (measured), which is where the win comes from.

    Pairs on the expansion path (a 1-char token and <= 4 tokens per
    side, matching_module.rb:258) fall through to the full composite —
    rearrangement changes the soundex operand, so the bound would be
    unsound there.
    """
    s1 = removeaccents(keyword_normalization(a))
    s2 = removeaccents(keyword_normalization(b))
    if s1 == s2:
        return 1.0 > threshold
    s1_aa, s2_aa = s1.split(), s2.split()
    sw = set(stopwords)
    s1_a = [t for t in s1_aa if t not in sw]
    s2_a = [t for t in s2_aa if t not in sw]
    s1_nsw, s2_nsw = " ".join(s1_a), " ".join(s2_a)
    has_nsw = len(s1_nsw) > 0 and len(s2_nsw) > 0

    j1 = jaccard_tokens(s1_aa, s2_aa)
    if not has_nsw:
        if j1 > threshold:
            return True
        if not _expansion_eligible(s1, s2):
            if max(simm_soundex(s1, s2), j1) <= threshold:
                return False
        return advanced_string_matching_cached(a, b, stopwords) > threshold

    unstripped = s1_nsw == s1 and s2_nsw == s2  # no stopword removed
    j2 = j1 if unstripped else jaccard_tokens(s1_a, s2_a)
    if (j1 + j2) / 2.0 > threshold:
        return True
    if not _expansion_eligible(s1, s2) and (
        unstripped or not _expansion_eligible(s1_nsw, s2_nsw)
    ):
        sx1 = simm_soundex(s1, s2)
        sx2 = sx1 if unstripped else simm_soundex(s1_nsw, s2_nsw)
        ub1 = max(sx1, j1)
        ub2 = max(sx2, j2)
        if (ub1 + ub2) / 2.0 <= threshold:
            return False
    return advanced_string_matching_cached(a, b, stopwords) > threshold


@lru_cache(maxsize=65536)
def asm_passes_cached(
    a: str, b: str, stopwords: tuple[str, ...], threshold: float
) -> bool:
    return asm_passes(a, b, stopwords, threshold)
