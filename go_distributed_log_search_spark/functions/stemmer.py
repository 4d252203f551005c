"""Porter2 stemmer — the ``en_stem`` tokenizer's stemming stage.

Reference parity target: /root/reference/src/config/mod.go:53-58 declares
``en_stem`` per text field; Bluge applies a snowball English (Porter2)
stemmer at index time (src/commands/index.go:174). ``porter2_stem`` is the
snowball "english" algorithm (M.F. Porter, snowballstem.org spec — public
knowledge): y-marking, R1/R2 regions with gener/commun/arsen prefixes,
exceptional forms, the ied/ies and li rules, and the step-2/3/4 suffix
tables of the revised algorithm.

Execution shape: pure-Python per token, applied inside an Arrow-batched
pandas UDF over the token ARRAY column — one Python roundtrip per batch,
never per row (north-rule hot-path constraint). ``en_stem`` only runs for
fields whose schema declares it; the pipeline hot path uses ``default``.
"""

from __future__ import annotations

_P2_EXC1 = {
    "skis": "ski", "skies": "sky", "dying": "die", "lying": "lie",
    "tying": "tie", "idly": "idl", "gently": "gentl", "ugly": "ugli",
    "early": "earli", "only": "onli", "singly": "singl",
    "sky": "sky", "news": "news", "howe": "howe", "atlas": "atlas",
    "cosmos": "cosmos", "bias": "bias", "andes": "andes",
}
_P2_EXC2 = {
    "inning", "outing", "canning", "herring", "earring",
    "proceed", "exceed", "succeed",
}
_P2_VOWELS = frozenset("aeiouy")  # on the marked word, 'Y' is a consonant
_P2_DOUBLES = ("bb", "dd", "ff", "gg", "mm", "nn", "pp", "rr", "tt")
_P2_LI_OK = frozenset("cdeghkmnrt")

_P2_STEP2 = [  # longest-match order; None repl = conditional rule
    ("ational", "ate"), ("fulness", "ful"), ("ousness", "ous"),
    ("iveness", "ive"), ("ization", "ize"),
    ("tional", "tion"), ("biliti", "ble"), ("lessli", "less"),
    ("entli", "ent"), ("fulli", "ful"), ("ousli", "ous"), ("aliti", "al"),
    ("iviti", "ive"), ("alism", "al"), ("ation", "ate"),
    ("enci", "ence"), ("anci", "ance"), ("abli", "able"), ("izer", "ize"),
    ("ator", "ate"), ("alli", "al"),
    ("bli", "ble"), ("ogi", None), ("li", None),
]
_P2_STEP3 = [
    ("ational", "ate"), ("tional", "tion"), ("alize", "al"),
    ("icate", "ic"), ("iciti", "ic"), ("ative", None), ("ical", "ic"),
    ("ness", ""), ("ful", ""),
]
_P2_STEP4 = [
    "ement", "ance", "ence", "able", "ible", "ment", "ant", "ent", "ism",
    "ate", "iti", "ous", "ive", "ize", "ion", "al", "er", "ic",
]


def _p2_mark(word: str) -> str:
    """Mark consonant-y as 'Y': initial y, or y after a vowel."""
    out = []
    for i, c in enumerate(word):
        if c == "y" and (i == 0 or word[i - 1] in _P2_VOWELS):
            out.append("Y")
        else:
            out.append(c)
    return "".join(out)


def _p2_std_region(w: str, start: int) -> int:
    """Position after the first non-vowel following a vowel, at/after
    ``start``; len(w) if none."""
    for i in range(start + 1, len(w)):
        if w[i] not in _P2_VOWELS and w[i - 1] in _P2_VOWELS:
            return i + 1
    return len(w)


def _p2_regions(w: str) -> tuple[int, int]:
    r1 = None
    for pre in ("gener", "commun", "arsen"):
        if w.startswith(pre):
            r1 = len(pre)
            break
    if r1 is None:
        r1 = _p2_std_region(w, 0)
    r2 = _p2_std_region(w, r1)
    return r1, r2


def _p2_short_syllable_end(w: str) -> bool:
    """Ends in a short syllable: non-vowel + vowel + non-vowel(not w/x/Y),
    or the 2-letter word-start vowel + non-vowel."""
    n = len(w)
    if n >= 3 and (
        w[-3] not in _P2_VOWELS
        and w[-2] in _P2_VOWELS
        and w[-1] not in _P2_VOWELS
        and w[-1] not in "wxY"
    ):
        return True
    return n == 2 and w[0] in _P2_VOWELS and w[1] not in _P2_VOWELS


def porter2_stem(word: str) -> str:
    """Porter2 / snowball-english stem of a lowercase word."""
    if len(word) <= 2:
        return word
    if word in _P2_EXC1:
        return _P2_EXC1[word]

    w = _p2_mark(word)
    r1, r2 = _p2_regions(w)

    def in_r1(suffix: str) -> bool:
        return len(w) - len(suffix) >= r1

    def in_r2(suffix: str) -> bool:
        return len(w) - len(suffix) >= r2

    # step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith(("ied", "ies")):
        w = w[:-3] + ("i" if len(w) - 3 > 1 else "ie")
    elif w.endswith(("us", "ss")):
        pass
    elif w.endswith("s"):
        if any(c in _P2_VOWELS for c in w[:-2]):
            w = w[:-1]
    if w in _P2_EXC2:
        return w

    # step 1b
    for suf in ("eedly", "eed", "ingly", "edly", "ing", "ed"):
        if not w.endswith(suf):
            continue
        if suf in ("eedly", "eed"):
            if in_r1(suf):
                w = w[: len(w) - len(suf)] + "ee"
        else:
            stem = w[: len(w) - len(suf)]
            if any(c in _P2_VOWELS for c in stem):
                w = stem
                if w.endswith(("at", "bl", "iz")):
                    w += "e"
                elif w.endswith(_P2_DOUBLES):
                    w = w[:-1]
                elif len(w) == r1 and _p2_short_syllable_end(w):
                    w += "e"
        break

    # step 1c: y/Y -> i after a non-vowel that is not the first letter
    if (
        len(w) > 2
        and w[-1] in "yY"
        and w[-2] not in _P2_VOWELS
    ):
        w = w[:-1] + "i"

    # step 2 (longest suffix; action only when in R1)
    for suf, repl in _P2_STEP2:
        if not w.endswith(suf):
            continue
        if in_r1(suf):
            if suf == "ogi":
                if w.endswith("logi"):
                    w = w[:-1]
            elif suf == "li":
                if len(w) > 2 and w[-3] in _P2_LI_OK:
                    w = w[:-2]
            else:
                w = w[: len(w) - len(suf)] + repl
        break

    # step 3
    for suf, repl in _P2_STEP3:
        if not w.endswith(suf):
            continue
        if in_r1(suf):
            if suf == "ative":
                if in_r2(suf):
                    w = w[:-5]
            else:
                w = w[: len(w) - len(suf)] + repl
        break

    # step 4 (in R2; (s|t)ion)
    for suf in _P2_STEP4:
        if not w.endswith(suf):
            continue
        if in_r2(suf):
            stem = w[: len(w) - len(suf)]
            if suf != "ion" or stem.endswith(("s", "t")):
                w = stem
        break

    # step 5
    if w.endswith("e"):
        if in_r2("e") or (in_r1("e") and not _p2_short_syllable_end(w[:-1])):
            w = w[:-1]
    elif w.endswith("ll") and in_r2("l"):
        w = w[:-1]

    return w.replace("Y", "y")
