"""Porter2 (snowball english) stemmer unit tests: exceptional forms, the
R1/R2 prefix rules, the step-1b cleanups and end-to-end stems, plus
idempotence on the stems."""

from go_distributed_log_search_spark.functions.stemmer import porter2_stem

P2_CASES = {
    # step 1a / ied-ies / s rules
    "caresses": "caress", "ponies": "poni", "ties": "tie", "cries": "cri",
    "gas": "gas", "this": "this",
    # exceptional forms + invariants
    "skis": "ski", "skies": "sky", "dying": "die", "lying": "lie",
    "tying": "tie", "idly": "idl", "gently": "gentl", "ugly": "ugli",
    "early": "earli", "only": "onli", "singly": "singl", "sky": "sky",
    "news": "news", "inning": "inning", "outing": "outing",
    "exceed": "exceed", "proceed": "proceed",
    # special R1 prefixes (Porter2-only behavior)
    "generate": "generat", "generates": "generat", "general": "general",
    "communism": "communism", "arsenic": "arsenic",
    # 1b cleanups
    "running": "run", "hopping": "hop", "hoping": "hope", "agreed": "agre",
    "knitting": "knit", "enjoying": "enjoy", "enjoyment": "enjoy",
    # step 2-5
    "rational": "ration", "happily": "happili", "happy": "happi",
    "hopeful": "hope", "hopefulness": "hope", "conspicuous": "conspicu",
    "electrical": "electr", "electriciti": "electr", "sensibiliti": "sensibl",
    "replacement": "replac", "runner": "runner", "cry": "cri", "by": "by",
    "say": "say",
}


def test_porter2_vocabulary():
    bad = {w: (porter2_stem(w), want) for w, want in P2_CASES.items()
           if porter2_stem(w) != want}
    assert not bad, bad


def test_porter2_idempotent():
    for w in P2_CASES.values():
        assert porter2_stem(porter2_stem(w)) == porter2_stem(w)
