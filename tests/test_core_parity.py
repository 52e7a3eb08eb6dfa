"""Kernel-parity tests: assertions ported from the reference test suite
(/root/reference/tests/) onto our core kernel — same inputs, same expected
annotation strings/offsets. Citations are reference test file:line."""

from __future__ import annotations

import pytest

from iamsystem_python_spark.core.fuzzy import (
    Abbreviations,
    ExactMatch,
    FuzzyAlgo,
    FuzzyRegex,
    LevenshteinAlgo,
    NgramSimilarity,
    WordNormalizer,
    levenshtein,
)
from iamsystem_python_spark.core.matcher import (
    Matcher,
    replace_annots,
    rm_nested_annots,
)
from iamsystem_python_spark.core.stopwords import NegativeStopwords, Stopwords
from iamsystem_python_spark.core.tokenize import (
    Token,
    english_tokenizer,
    french_tokenizer,
    get_span_seq_id,
    group_continuous_seq,
    remove_trailing_stopwords,
    replace_offsets_by_new_str,
    split_alpha_num,
)
from iamsystem_python_spark.core.trie import EMPTY_NODE, Trie


# --- tokenizer / normalizer — tests/test_toknorm.py -------------------------


def test_offsets_and_labels():
    tok = french_tokenizer()
    tokens = tok.tokenize("Insuffisance Cardiaque Gauche")
    assert [t.as_tuple() for t in tokens] == [
        (0, 12, "Insuffisance", "insuffisance", 0),
        (13, 22, "Cardiaque", "cardiaque", 1),
        (23, 29, "Gauche", "gauche", 2),
    ]


def test_accent_fold_and_mu():
    tok = french_tokenizer()
    assert tok.tokenize("ulcères")[0].norm_label == "ulceres"
    # μg→ug special case (test_toknorm.py:130-144 / normalize.py:16-18)
    assert tok.tokenize("5 μg")[1].norm_label == "ug"


def test_english_tokenizer_keeps_accents():
    tok = english_tokenizer()
    assert tok.tokenize("Éléphant")[0].norm_label == "éléphant"


def test_split_alpha_num_quotes_and_dashes():
    offs = list(split_alpha_num("l'insuffisance cardio-vasculaire"))
    words = ["l", "insuffisance", "cardio", "vasculaire"]
    assert ["l'insuffisance cardio-vasculaire"[s:e] for s, e in offs] == words


def test_group_continuous_seq():
    toks = [Token(0, 1, "a", "a", i) for i in [1, 2, 3, 5, 6]]
    seqs = group_continuous_seq(toks)
    assert [[t.i for t in s] for s in seqs] == [[1, 2, 3], [5, 6]]


# --- trie — tests/test_tree.py ----------------------------------------------


def test_trie_topology():
    tok = french_tokenizer()
    trie = Trie()
    trie.add_keyword("Insuffisance Cardiaque", "I50.9", tok, lambda w: False)
    trie.add_keyword("Insuffisance Cardiaque Gauche", "I50.1", tok, lambda w: False)
    # root + insuffisance + cardiaque + gauche
    assert trie.node_count == 4
    node = trie.root.goto_node("insuffisance")
    assert not node.is_a_final_state()
    node2 = node.goto_node("cardiaque")
    assert node2.is_a_final_state()
    assert trie.keywords[node2.kw_indices[0]] == ("Insuffisance Cardiaque", "I50.9")
    assert node2.goto_node("gauche").is_a_final_state()
    assert node.goto_node("unknown") is EMPTY_NODE
    assert EMPTY_NODE.goto_node("x") is EMPTY_NODE


def test_trie_stopword_removed_from_path():
    tok = french_tokenizer()
    trie = Trie()
    stop = Stopwords(["le", "la", "de"])
    trie.add_keyword("Insuffisance de la Cardiaque", None, tok, stop.is_token_a_stopword)
    assert trie.root.goto_node("insuffisance").goto_node("cardiaque").is_a_final_state()


def test_trie_empty_keyword_warns():
    tok = french_tokenizer()
    trie = Trie()
    with pytest.warns(UserWarning):
        trie.add_keyword("le", None, tok, Stopwords(["le"]).is_token_a_stopword)


# --- window detection — tests/test_detect.py ---------------------------------


def _build(keywords, **kw):
    kw.setdefault("tokenizer", french_tokenizer())
    return Matcher.build(keywords=keywords, **kw)


@pytest.mark.parametrize("w,n", [(1, 0), (3, 0), (4, 1)])
def test_window_sensitivity(w, n):
    """test_detect.py:130-146."""
    m = _build(["Insuffisance Cardiaque"], w=w)
    assert len(m.annot_text("insuffisance de la fonction cardiaque")) == n


def test_stopword_transparent_window():
    """test_detect.py:148-157: stopwords don't consume window budget."""
    m = _build(["Insuffisance Cardiaque"], w=1, stopwords=["de", "la", "fonction"])
    annots = m.annot_text("insuffisance de la fonction cardiaque")
    assert len(annots) == 1
    assert annots[0].start == 0 and annots[0].end == 37


def test_nested_removal():
    """test_detect.py:84-96: keep the longest."""
    m = _build(["Insuffisance Cardiaque", "Insuffisance Cardiaque Gauche"], w=1)
    annots = m.annot_text("Signes d'insuffisance cardiaque gauche")
    assert len(annots) == 1
    assert annots[0].tokens_norm_label == "insuffisance cardiaque gauche"


def test_nested_kept_when_disabled():
    m = _build(
        ["Insuffisance Cardiaque", "Insuffisance Cardiaque Gauche"],
        w=1,
        remove_nested_annots=False,
    )
    assert len(m.annot_text("Signes d'insuffisance cardiaque gauche")) == 2


def test_ambiguity_same_offsets_both_kept():
    """span.py:81-84: exact same offsets → can't decide → keep both."""
    m = _build(
        [
            ("Insuffisance Respiratoire Chronique", "J96.1"),
            ("Insuffisance Renale Chronique", "N18"),
        ],
        w=1,
        abbreviations=[("irc", "insuffisance respiratoire chronique"),
                       ("irc", "insuffisance renale chronique")],
    )
    annots = m.annot_text("irc")
    assert len(annots) == 2


def test_repeated_keyword_issue_11():
    """test_matcher.py:209-226: 'cancer cancer de de la la prostate prostate'
    with w=3 produces 2 annotations (state replacement semantics)."""
    m = _build(["cancer de la prostate"], w=3)
    annots = m.annot_text("cancer cancer de de la la prostate prostate")
    assert len(annots) == 2
    assert annots[0].annot_to_str().split("\t")[1] == "7 13;17 19;23 34"


def test_window_2_example_readme():
    """README.md:20-44 golden output."""
    m = Matcher.build(
        keywords=["North America", "South America"],
        stopwords=["and"],
        abbreviations=[("amer", "America")],
        spellwise=[dict(max_distance=1)],
        w=2,
        tokenizer=english_tokenizer(),
    )
    annots = m.annot_text("Northh and south Amer.")
    assert [str(a) for a in annots] == [
        "Northh Amer\t0 6;17 21\tNorth America",
        "south Amer\t11 21\tSouth America",
    ]


def test_order_tokens():
    """test_matcher.py:318-327."""
    m = Matcher.build(
        keywords=["Insuffisance Cardiaque Gauche"],
        order_tokens=True,
        w=3,
        stopwords=["à"],
    )
    annots = m.annot_text("cardiaque insuffisance à gauche")
    assert len(annots) == 1
    # tokens re-sorted by document position in create_annot
    assert annots[0].tokens_norm_label == "cardiaque insuffisance gauche"


def test_negative_stopwords():
    """test_matcher.py:347-356: everything not a keyword unigram is a stop."""
    m = _build(["Insuffisance Cardiaque"], w=1, negative=True)
    annots = m.annot_text("insuffisance très importante du ventricule cardiaque")
    assert len(annots) == 1


def test_strategy_parity_window_vs_large_window():
    """test_matcher.py:477-485, 581-590: identical annotations."""
    for text in [
        "insuffisance de la fonction cardiaque",
        "cancer cancer de de la la prostate prostate",
        "Signes d'insuffisance cardiaque gauche",
    ]:
        kws = ["Insuffisance Cardiaque", "cancer de la prostate",
               "Insuffisance Cardiaque Gauche"]
        a = _build(kws, w=5, strategy="window").annot_text(text)
        b = _build(kws, w=5, strategy="large_window").annot_text(text)
        assert [str(x) for x in a] == [str(x) for x in b]


def test_no_overlap_strategy():
    """test_matcher.py:496-552: greedy longest match, w ignored."""
    m = _build(["cancer", "cancer de la prostate"], strategy="no_overlap")
    annots = m.annot_text("cancer de la prostate")
    assert len(annots) == 1
    assert annots[0].tokens_norm_label == "cancer de la prostate"
    # backtracking: 'cancer de la' dead-end → backtrack to 'cancer'
    m2 = _build(["cancer", "cancer de la prostate"], strategy="no_overlap")
    annots2 = m2.annot_text("cancer de la glande")
    assert len(annots2) == 1
    assert annots2[0].tokens_norm_label == "cancer"


# --- fuzzy algos — tests/test_fuzzy.py ---------------------------------------


def test_levenshtein_distance():
    assert levenshtein("kitten", "sitting", 3) == 3
    assert levenshtein("abc", "abc", 1) == 0
    assert levenshtein("abc", "zzz", 1) == 2  # capped at max+1


def test_levenshtein_algo_gates():
    lev = LevenshteinAlgo(max_distance=1, min_nb_char=5)
    lev.add_words(["prostate", "cancer"])
    assert list(lev.get_syns_of_word("prostatte")) == [("prostate",)]
    assert list(lev.get_syns_of_word("cancerr")) == [("cancer",)]
    # word below min_nb_char is ignored
    assert list(lev.get_syns_of_word("cats")) == []


def test_soundex_published_codes():
    """American Soundex per the published definition — the classic example
    set (incl. the h/w-transparency and same-code-collapse rules)."""
    from iamsystem_python_spark.core.fuzzy import soundex

    assert soundex("Robert") == "R163"
    assert soundex("Rupert") == "R163"
    assert soundex("Ashcraft") == "A261"  # h transparent: c collapses with s
    assert soundex("Ashcroft") == "A261"
    assert soundex("Tymczak") == "T522"   # cz collapse; vowel separates k
    assert soundex("Pfister") == "P236"   # f collapses with initial P
    assert soundex("Honeyman") == "H555"
    assert soundex("") == "" and soundex("123") == ""


def test_soundex_algo_suggestions():
    from iamsystem_python_spark.core.fuzzy import SoundexAlgo

    sx = SoundexAlgo(max_distance=0, min_nb_char=5)
    sx.add_words(["robert", "rupert", "cancer"])
    # same code R163 → both suggested; different code → not
    assert sorted(sx.get_syns_of_word("rubert")) == [("robert",), ("rupert",)]
    # kancer→K526 vs cancer→C526: codes differ in the (uncoded) first
    # letter, so distance 0 misses but code-distance 1 catches it
    assert list(sx.get_syns_of_word("kancer")) == []
    sx1 = SoundexAlgo(max_distance=1, min_nb_char=5)
    sx1.add_words(["cancer"])
    assert list(sx1.get_syns_of_word("kancer")) == [("cancer",)]


def test_editex_published_distances():
    """Editex (Zobel & Dart 1996) with the standard costs 0/1/2 — values
    cross-checked against the published definition's worked examples."""
    from iamsystem_python_spark.core.fuzzy import editex

    assert editex("cat", "hat") == 2
    assert editex("Niall", "Neil") == 2       # same-group vowel substitutions
    assert editex("aluminum", "Catalan") == 12
    assert editex("ATCG", "TAGC") == 6
    assert editex("same", "same") == 0
    # silent-h deletion costs 1, not 2
    assert editex("john", "jon") == 1


def test_typox_keyboard_distances():
    """Typox = Editex recurrence with QWERTY-adjacency groups (provenance
    note in core/fuzzy.py). Hand-computed against this spec."""
    from iamsystem_python_spark.core.fuzzy import TypoxAlgo, typox

    assert typox("prostate", "prostate") == 0
    assert typox("prostate", "peostate") == 1  # e adjacent to r
    assert typox("prostate", "pzostate") == 2  # z not adjacent to r
    assert typox("cat", "cqt") == 1            # q adjacent to a
    assert typox("cat", "cut") == 2            # u not adjacent to a
    # doubled letter deletes free (d(x, x) == 0), like editex
    assert typox("prosstate", "prostate") == 0
    # non-repeat deletion costs r(prev, deleted): t/e not adjacent -> 2
    assert typox("prostate", "prostat") == 2
    # stagger diagonals: 'a' sits under q/w, 'z' under a/s
    assert typox("za", "zq") == 1
    assert typox("az", "as") == 1
    # algo surface: bucketing + min_nb_char gate as for editex
    algo = TypoxAlgo(max_distance=1, min_nb_char=5)
    algo.add_words(["prostate"])
    assert list(algo.get_syns_of_word("peostate")) == [("prostate",)]
    assert list(algo.get_syns_of_word("pzostate")) == []


def test_editex_algo_suggestions():
    from iamsystem_python_spark.core.fuzzy import EditexAlgo

    ed = EditexAlgo(max_distance=2, min_nb_char=5)
    ed.add_words(["prostate", "cancer"])
    assert list(ed.get_syns_of_word("prostete")) == [("prostate",)]  # group sub
    assert list(ed.get_syns_of_word("zzzzzz")) == []


def test_editex_algo_free_repeat_deletes_not_pruned():
    """Editex deletes a doubled letter at cost 0, so a candidate whose RAW
    length differs from the query's by far more than max_distance can still
    match (editex('prosssssstate','prostate') == 0). Plain-length bucketing
    would silently miss it (the round-2 ADVICE recall bug); run-compressed
    length bucketing with a ±2·max_distance scan keeps it."""
    from iamsystem_python_spark.core.fuzzy import (
        EditexAlgo,
        _run_compressed_len,
        editex,
    )

    assert editex("prosssssstate", "prostate") == 0
    assert _run_compressed_len("prosssssstate") == _run_compressed_len("prostate") == 8

    ed = EditexAlgo(max_distance=1, min_nb_char=5)
    ed.add_words(["prostate", "cancer"])
    # raw length differs by 5 > max_distance=1, yet the match is valid
    assert ("prostate",) in list(ed.get_syns_of_word("prosssssstate"))
    # and the reverse direction: long dictionary word, short query
    ed2 = EditexAlgo(max_distance=1, min_nb_char=5)
    ed2.add_words(["prosssssstate"])
    assert ("prosssssstate",) in list(ed2.get_syns_of_word("prostate"))
    # pruning still prunes: far-compressed-length words never scanned
    assert list(ed.get_syns_of_word("zzzzzzzzzzzzzzzzzzzzzz")) == []


def test_soundex_editex_reference_spellwise_parity():
    """Ported assertions from reference tests/test_spellwise.py:117-130:
    at max_distance=1, SOUNDEX hears 'inssssuffffizzzensssse' as
    'insuffisance' (identical code), EDITEX does not (distance 3 — the
    doubled-letter free-delete rule absorbs the repeats but i/z/e edits
    remain) yet accepts 'insufizzance' (distance 1: doubled-letter
    insert/delete is free, z→s is a group substitution)."""
    from iamsystem_python_spark.core.fuzzy import (
        EditexAlgo,
        SoundexAlgo,
        editex,
        soundex,
    )

    unigrams = ["insuffisance", "cardiaque", "gauche"]
    sx = SoundexAlgo(max_distance=1, min_nb_char=5)
    sx.add_words(unigrams)
    assert soundex("inssssuffffizzzensssse") == soundex("insuffisance") == "I521"
    assert ("insuffisance",) in list(sx.get_syns_of_word("inssssuffffizzzensssse"))

    ed = EditexAlgo(max_distance=1, min_nb_char=5)
    ed.add_words(unigrams)
    assert editex("inssssuffffizzzensssse", "insuffisance") == 3
    assert ("insuffisance",) not in list(ed.get_syns_of_word("inssssuffffizzzensssse"))
    assert editex("insufizzance", "insuffisance") == 1
    assert ("insuffisance",) in list(ed.get_syns_of_word("insufizzance"))


def test_caverphone_published_codes():
    """Published worked examples (David Hood, Caversham Project, University
    of Otago — CTP060902 for 1.0, CTP150804 'Caverphone Revisited' for
    2.0). These are the classic spec examples, not reference-derived (the
    spellwise library the reference wraps is unavailable here)."""
    from iamsystem_python_spark.core.fuzzy import caverphone1, caverphone2

    assert caverphone1("Thompson") == "TMPSN1"
    assert caverphone1("Lee") == "L11111"
    assert len(caverphone1("x")) == 6

    assert caverphone2("Stevenson") == "STFNSN1111"
    assert caverphone2("Peter") == "PTA1111111"
    assert caverphone2("Thompson") == "TMPSN11111"
    # spelling variants the algorithm was designed to conflate
    assert caverphone2("Stephenson") == caverphone2("Stevenson")
    assert caverphone2("Tompson") == caverphone2("Thompson")
    assert len(caverphone2("x")) == 10


def test_caverphone_algo_suggestions():
    from iamsystem_python_spark.core.fuzzy import CaverphoneAlgo

    cv = CaverphoneAlgo(revision=2, max_distance=0, min_nb_char=5)
    cv.add_words(["stevenson", "cardiaque"])
    assert list(cv.get_syns_of_word("stephenson")) == [("stevenson",)]
    assert list(cv.get_syns_of_word("cardiaque")) == [("cardiaque",)]
    assert list(cv.get_syns_of_word("zzzzzz")) == []
    # min_nb_char gate (api.py:204-208 semantics shared across measures)
    assert list(cv.get_syns_of_word("lee")) == []


def test_spellwise_measure_dispatch_and_reject():
    """Matcher.build honors measure= (soundex/editex route to the native
    algos) and REJECTS unsupported measures instead of silently running
    Levenshtein (round-1 VERDICT 'what's missing' #1)."""
    import pytest

    m = Matcher.build(
        keywords=["robert cancer"],
        spellwise=[dict(measure="soundex", max_distance=0, min_nb_char=5)],
        w=1,
    )
    # soundex: 'rubert'→R163 == robert's code → fuzzy match fires
    annots = m.annot_text("rubert cancer")
    assert len(annots) == 1

    m2 = Matcher.build(
        keywords=["prostate"],
        spellwise=[dict(measure="editex", max_distance=2, min_nb_char=5)],
        w=1,
    )
    assert len(m2.annot_text("prostete")) == 1

    # enum-style objects with .name work (reference ESpellWiseAlgo compat)
    class _E:
        name = "SOUNDEX"

    m3 = Matcher.build(
        keywords=["robert"],
        spellwise=[dict(measure=_E(), max_distance=0, min_nb_char=5)],
        w=1,
    )
    assert len(m3.annot_text("rubert")) == 1

    # typox (keyboard-aware editex; provenance note in core/fuzzy.py):
    # r→e is a QWERTY-adjacent slip (cost 1, within max_distance=1);
    # r→z is not adjacent (cost 2, rejected at max_distance=1)
    m_tx = Matcher.build(
        keywords=["prostate"],
        spellwise=[dict(measure="typox", max_distance=1, min_nb_char=5)],
        w=1,
    )
    assert len(m_tx.annot_text("peostate")) == 1
    assert len(m_tx.annot_text("pzostate")) == 0
    # caverphone (both revisions) now dispatch to the native algo
    m4 = Matcher.build(
        keywords=["stevenson"],
        spellwise=[dict(measure="caverphone_2", max_distance=0, min_nb_char=5)],
        w=1,
    )
    assert len(m4.annot_text("stephenson")) == 1
    m5 = Matcher.build(
        keywords=["thompson"],
        spellwise=[dict(measure="CAVERPHONE_1", max_distance=0, min_nb_char=5)],
        w=1,
    )
    assert len(m5.annot_text("tompson")) == 1


def test_abbreviations_gate():
    from iamsystem_python_spark.core.fuzzy import token_is_upper_case

    abbs = Abbreviations(token_is_an_abbreviation=token_is_upper_case)
    abbs.add("ic", "insuffisance cardiaque", french_tokenizer())
    up = Token(0, 2, "IC", "ic", 0)
    low = Token(0, 2, "ic", "ic", 0)
    assert list(abbs.get_syns_of_token(up)) == [("insuffisance", "cardiaque")]
    assert list(abbs.get_syns_of_token(low)) == []


def test_word_normalizer_stem():
    wn = WordNormalizer("stem", norm_fun=lambda w: w[:3])
    wn.add_words(["eating"])
    assert list(wn.get_syns_of_word("eats")) == [("eating",)]


def test_fuzzy_regex():
    """test_doc.py:816-839 golden output."""
    from iamsystem_python_spark.core.tokenize import (
        Tokenizer,
        lower_only,
        split_find_iter_closure,
    )

    fr = FuzzyRegex("regex_num", pattern=r"^\d*[.,]?\d*$", pattern_name="numval")
    tokenizer = Tokenizer(split_find_iter_closure(r"(\w|\.|,)+"), lower_only)
    m = Matcher.build(
        keywords=["calcium numval mmol/L"],
        tokenizer=tokenizer,
        stopwords=["level", "is", "normal"],
        fuzzy_regex=[dict(name="regex_num", pattern=r"^\d*[.,]?\d*$",
                          pattern_name="numval")],
    )
    annots = m.annot_text("the blood calcium level is normal: 2.1 mmol/L")
    # golden from the live reference (test_doc.py:837 comment is stale —
    # ContSeqFormatter since v0.6.0 returns the merged substring)
    assert [str(a) for a in annots] == [
        "calcium 2.1 mmol/L\t10 17;35 45\tcalcium numval mmol/L"
    ]
    assert fr.token_matches_pattern(Token(0, 3, "2.1", "2.1", 0))


def test_ngram_similarity_jaccard():
    ss = NgramSimilarity(threshold=0.4, measure="jaccard", min_nb_char=5)
    ss.add_words(["prostate"])
    assert ("prostate",) in list(ss.get_syns_of_word("prostat"))
    assert list(ss.get_syns_of_word("zzzzz")) == []


def test_ngram_similarity_exact_measure():
    """simstring's 'exact' measure (reference ESimStringMeasure.EXACT,
    simstring.py:18-25): only the identical string matches."""
    ss = NgramSimilarity(threshold=0.5, measure="exact", min_nb_char=5)
    ss.add_words(["prostate", "prostates"])
    assert list(ss.get_syns_of_word("prostate")) == [("prostate",)]
    assert list(ss.get_syns_of_word("prostat")) == []
    # identical padded n-gram SETS are not enough: same-char runs of
    # different length share the full 3-gram set but are different strings
    ss2 = NgramSimilarity(threshold=0.5, measure="exact", min_nb_char=5)
    ss2.add_words(["aaaaaaa"])
    assert list(ss2.get_syns_of_word("aaaaaa")) == []
    assert list(ss2.get_syns_of_word("aaaaaaa")) == [("aaaaaaa",)]


# --- annotation formatting — tests/test_annotation.py / test_brat.py ---------


def test_to_dict():
    m = _build([("Insuffisance Cardiaque", "I50.9")], w=1)
    text = "insuffisance cardiaque"
    d = m.annot_text(text)[0].to_dict(text=text)
    assert d["start"] == 0 and d["end"] == 22
    assert d["kb_ids"] == ["I50.9"]
    assert d["kw_labels"] == ["Insuffisance Cardiaque"]
    assert d["version"] == "0.4.0"
    assert d["substring"] == text


def test_replace_annots():
    m = _build([("Insuffisance Cardiaque", "I50.9")], w=1)
    text = "insuffisance cardiaque grave"
    annots = m.annot_text(text)
    new = replace_annots(text, annots, ["I50.9"])
    assert new == "I50.9 grave"


def test_brat_formatters():
    m = _build(["Insuffisance Cardiaque"], w=1, stopwords=["de", "la", "fonction"])
    text = "insuffisance de la fonction cardiaque"
    a = m.annot_text(text)[0]
    # token formatter: one fragment per token
    assert a.brat_text_and_offsets("token") == (
        "insuffisance cardiaque",
        "0 12;28 37",
    )
    # span formatter: whole range
    assert a.brat_text_and_offsets("span") == (text, "0 37")
    # contseq (default): discontinuous sequences merged
    assert a.brat_text_and_offsets("contseq") == (
        "insuffisance cardiaque",
        "0 12;28 37",
    )


def test_negative_stopwords_fuzzy_keep():
    """issue #15 (negative.py:71-112): keep misspelled keyword unigrams."""
    m = Matcher.build(
        keywords=["Insuffisance Cardiaque"],
        negative=True,
        w=1,
        spellwise=[dict(max_distance=1)],
        tokenizer=french_tokenizer(),
    )
    annots = m.annot_text("insuffisance cardiaqu")
    assert len(annots) == 1


# --- documentation examples — tests/test_doc.py ------------------------------
# End-to-end Matcher.build goldens ported from the reference's doc-driven
# suite (the richest untapped parity corpus, 1,008 LoC). Algo names in
# debug strings are lowercase here (reference uses enum names like
# LEVENSHTEIN) — a naming divergence only, asserted as such.


def test_doc_readme_example():
    """test_doc.py:17-32: Levenshtein + abbreviation + stopword, w=2."""
    m = Matcher.build(
        keywords=["North America", "South America"],
        stopwords=["and"],
        abbreviations=[("amer", "America")],
        spellwise=[dict(measure="Levenshtein", max_distance=1)],
        w=2,
    )
    annots = m.annot_text("Northh and south Amer.")
    assert [str(a) for a in annots] == [
        "Northh Amer\t0 6;17 21\tNorth America",
        "south Amer\t11 21\tSouth America",
    ]


def test_doc_exact_match_keywords():
    """test_doc.py:34-55: exact match goldens with offsets."""
    m = Matcher.build(
        keywords=["acute respiratory distress syndrome", "diarrrhea"]
    )
    annots = m.annot_text(
        "Pt c/o Acute Respiratory Distress Syndrome and diarrrhea"
    )
    assert str(annots[0]) == (
        "Acute Respiratory Distress Syndrome\t7 42\t"
        "acute respiratory distress syndrome"
    )
    assert str(annots[1]) == "diarrrhea\t47 56\tdiarrrhea"


def test_doc_exact_match_ents():
    """test_doc.py:57-78: kb_id rendered as 'label (kb_id)'."""
    m = Matcher.build(
        keywords=[
            ("acute respiratory distress syndrome", "J80"),
            ("diarrrhea", "R19.7"),
        ]
    )
    annots = m.annot_text(
        "Pt c/o acute respiratory distress syndrome and diarrrhea"
    )
    assert str(annots[0]) == (
        "acute respiratory distress syndrome\t7 42\t"
        "acute respiratory distress syndrome (J80)"
    )
    assert str(annots[1]) == "diarrrhea\t47 56\tdiarrrhea (R19.7)"


def test_doc_fail_order():
    """test_doc.py:154-164: tokens out of order never match (w=2)."""
    m = Matcher.build(keywords=["calcium level"], w=2)
    assert m.annot_text("level calcium") == []


def test_doc_tokenizer_plus_sign():
    """test_doc.py:168-203: '+' is not an alphanumeric token; a custom
    split pattern makes it one (field-level, repr layout differs)."""
    from iamsystem_python_spark.core.tokenize import split_find_iter_closure

    tok = english_tokenizer()
    tokens = tok.tokenize("SARS-CoV+")
    assert [(t.label, t.norm_label, t.start, t.end, t.i) for t in tokens] == [
        ("SARS", "sars", 0, 4, 0),
        ("CoV", "cov", 5, 8, 1),
    ]
    tok2 = english_tokenizer()
    tok2.split = split_find_iter_closure(pattern=r"(\w+|\+)")
    tokens2 = tok2.tokenize("SARS-CoV+")
    assert [(t.label, t.norm_label, t.start, t.end, t.i) for t in tokens2] == [
        ("SARS", "sars", 0, 4, 0),
        ("CoV", "cov", 5, 8, 1),
        ("+", "+", 8, 9, 2),
    ]


def test_doc_matcher_with_custom_tokenizer():
    """test_doc.py:205-223: custom split makes 'sars-cov+' matchable."""
    from iamsystem_python_spark.core.tokenize import split_find_iter_closure

    tok = english_tokenizer()
    tok.split = split_find_iter_closure(pattern=r"(\w+|\+)")
    m = Matcher.build(keywords=[("SARS-CoV+", "95209-3")], tokenizer=tok)
    annots = m.annot_text(
        "Pt c/o acute respiratory distress syndrome. RT-PCR sars-cov+"
    )
    assert [str(a) for a in annots] == ["sars-cov+\t51 60\tSARS-CoV+ (95209-3)"]


def test_doc_unordered_words_seq():
    """test_doc.py:225-245: order_tokens=True matches any word order."""
    m = Matcher.build(
        keywords=["blood calcium level"],
        tokenizer=english_tokenizer(),
        order_tokens=True,
        w=5,
    )
    annots = m.annot_text("the level of calcium can measured in the blood.")
    assert len(annots) == 1
    assert str(annots[0]) == (
        "level calcium blood\t4 9;13 20;41 46\tblood calcium level"
    )


def test_doc_add_stopword():
    """test_doc.py:249-274: stopword bridges a missing keyword token."""
    m = Matcher.build(
        keywords=[("Essential hypertension, unspecified", "I10.9")],
        tokenizer=english_tokenizer(),
        stopwords=["unspecified"],
    )
    annots = m.annot_text("Medical history: essential hypertension")
    assert [str(a) for a in annots] == [
        "essential hypertension\t17 39\t"
        "Essential hypertension, unspecified (I10.9)"
    ]


def test_doc_negative_stopword():
    """test_doc.py:276-288: everything except keyword unigrams is a
    stopword."""
    m = Matcher.build(keywords=["calcium blood"], negative=True)
    annots = m.annot_text("the level of calcium can be measured in the blood.")
    assert len(annots) == 1
    assert str(annots[0]).startswith("calcium blood\t13 20;44 49")


def test_doc_annotation_format():
    """test_doc.py:292-325: to_string text/debug goldens."""
    m = Matcher.build(
        keywords=[("infectious disease", "D007239")],
        abbreviations=[("infect", "infectious")],
        w=2,
    )
    text = "Infect mononucleosis disease"
    annots = m.annot_text(text)
    assert str(annots[0]) == (
        "Infect disease\t0 6;21 28\tinfectious disease (D007239)"
    )
    assert annots[0].to_string(text=True) == (
        "Infect disease\t0 6;21 28\tinfectious disease (D007239)\t"
        "Infect mononucleosis disease"
    )
    assert annots[0].to_string(text=True, debug=True) == (
        "Infect disease\t0 6;21 28\tinfectious disease (D007239)\t"
        "Infect mononucleosis disease\tinfect(abbs);disease(exact)"
    )


def test_doc_annotation_multiple_keywords():
    """test_doc.py:327-358: one annotation, several keywords."""
    m = Matcher.build(
        keywords=[
            ("Infectious Disease", "J80"),
            ("infectious disease", "C0042029"),
            ("infectious disease, unspecified", "C0042029"),
        ],
        tokenizer=english_tokenizer(),
        stopwords=["unspecified"],
    )
    annots = m.annot_text("History of infectious disease")
    assert len(annots) == 1
    kws = annots[0].kw_strings
    assert "Infectious Disease (J80)" in kws
    assert "infectious disease (C0042029)" in kws
    assert "infectious disease, unspecified (C0042029)" in kws


def test_doc_annotation_overlapping_ancestors():
    """test_doc.py:360-379: nested-annot removal toggle."""
    m = Matcher.build(keywords=["lung", "lung cancer"], w=1)
    text = "Presence of a lung cancer"
    assert [str(a) for a in m.annot_text(text)] == [
        "lung cancer\t14 25\tlung cancer"
    ]
    m.remove_nested_annots = False
    assert [str(a) for a in m.annot_text(text)] == [
        "lung\t14 18\tlung",
        "lung cancer\t14 25\tlung cancer",
    ]


def test_doc_annotation_partial_overlap():
    """test_doc.py:401-417: partial overlaps (shared word) both kept."""
    m = Matcher.build(keywords=["lung cancer", "cancer prognosis"])
    annots = m.annot_text("lung cancer prognosis")
    assert [str(a) for a in annots] == [
        "lung cancer\t0 11\tlung cancer",
        "cancer prognosis\t5 21\tcancer prognosis",
    ]


def test_doc_abbreviations():
    """test_doc.py:608-636: ungated abbreviations — ambiguous short form
    annotates BOTH expansions."""
    m = Matcher.build(
        keywords=[
            ("acute respiratory distress", "J80"),
            ("patient", "D007290"),
            ("patient hospitalized", "D007297"),
            ("physiotherapy", "D007297"),
        ],
        abbreviations=[
            ("Pt", "patient"),
            ("PT", "physiotherapy"),
            ("ARD", "Acute Respiratory Distress"),
        ],
    )
    annots = m.annot_text("Pt hospitalized with ARD. Treament: PT")
    assert len(annots) == 4
    got = [a.to_string(debug=True) for a in annots]
    assert got[0] == (
        "Pt hospitalized\t0 15\tpatient hospitalized (D007297)\t"
        "pt(abbs);hospitalized(exact)"
    )
    assert got[1] == (
        "ARD\t21 24\tacute respiratory distress (J80)\tard(abbs)"
    )
    assert got[2] == "PT\t36 38\tpatient (D007290)\tpt(abbs)"
    assert got[3] == "PT\t36 38\tphysiotherapy (D007297)\tpt(abbs)"


def test_doc_uppercase_gated_abbreviations():
    """test_doc.py:638-693: case-sensitive gates disambiguate 'Pt' vs
    'PT' — only 3 annotations survive, each via the right gate."""
    from iamsystem_python_spark.core.fuzzy import token_is_upper_case

    def first_letter_capitalized(token):
        return token.label[:1].isupper() and not token.label.isupper()

    tok = english_tokenizer()
    m = Matcher(tokenizer=tok)
    m.add_keywords(
        [
            ("acute respiratory distress", "J80"),
            ("patient", "D007290"),
            ("patient hospitalized", "D007297"),
            ("physiotherapy", "D007297"),
        ]
    )
    abbs_upper = Abbreviations(
        name="upper case abbs", token_is_an_abbreviation=token_is_upper_case
    )
    abbs_upper.add("PT", "physiotherapy", tok)
    abbs_upper.add("ARD", "Acute Respiratory Distress", tok)
    abbs_cap = Abbreviations(
        name="capitalized abbs",
        token_is_an_abbreviation=first_letter_capitalized,
    )
    abbs_cap.add("Pt", "patient", tok)
    m.add_fuzzy_algo(abbs_upper)
    m.add_fuzzy_algo(abbs_cap)
    annots = m.annot_text("Pt hospitalized with ARD. Treament: PT")
    got = [a.to_string(debug=True) for a in annots]
    assert got == [
        "Pt hospitalized\t0 15\tpatient hospitalized (D007297)\t"
        "pt(capitalized abbs);hospitalized(exact)",
        "ARD\t21 24\tacute respiratory distress (J80)\tard(upper case abbs)",
        "PT\t36 38\tphysiotherapy (D007297)\tpt(upper case abbs)",
    ]


def test_doc_spellwise():
    """test_doc.py:695-719: Levenshtein + Soundex per-token attribution
    (algo names lowercase here; reference prints enum names)."""
    m = Matcher.build(
        keywords=[("acute respiratory distress", "J80")],
        spellwise=[
            dict(measure="Levenshtein", max_distance=1, min_nb_char=5),
            dict(measure="Soundex", max_distance=1),
        ],
    )
    annots = m.annot_text("acute resiratory distresssss")
    assert [a.to_string(debug=True) for a in annots] == [
        "acute resiratory distresssss\t0 28\tacute respiratory distress (J80)\t"
        "acute(exact,levenshtein,soundex);resiratory(levenshtein);"
        "distresssss(soundex)"
    ]


def test_doc_string_distance_ignored_w():
    """test_doc.py:721-757: words2ignore suppresses a false-positive
    Levenshtein match ('poils' ~ 'poids')."""
    kw = ["poids"]
    sw = [dict(measure="Levenshtein", max_distance=1, min_nb_char=4)]
    m = Matcher.build(keywords=kw, spellwise=sw)
    assert len(m.annot_text("Absence de poils.")) == 1
    m2 = Matcher.build(
        keywords=kw, spellwise=sw, string_distance_ignored_w=["poils"]
    )
    assert m2.annot_text("Absence de poils.") == []


def test_doc_simstring_cosine():
    """test_doc.py:759-776: char-3-gram cosine at 0.7 catches two typos."""
    m = Matcher.build(
        keywords=[("acute respiratory distress", "J80")],
        simstring=[dict(measure="cosine", threshold=0.7)],
    )
    annots = m.annot_text("acute respiratori disstress")
    assert len(annots) == 1
    assert annots[0].kw_strings == ["acute respiratory distress (J80)"]


def test_doc_cache_fuzzy_algos():
    """test_doc.py:778-809: cached spellwise + uncached abbreviation
    combine on one annotation."""
    from iamsystem_python_spark.core.fuzzy import (
        CacheFuzzyAlgos,
        SoundexAlgo,
    )

    m = Matcher(tokenizer=french_tokenizer())
    m.add_keywords([("acute respiratory distress", "J80")])
    abbs = Abbreviations(name="abbs")
    abbs.add("a", "acute", french_tokenizer())
    lev = LevenshteinAlgo(max_distance=1, min_nb_char=5)
    sdx = SoundexAlgo(max_distance=1)
    cache = CacheFuzzyAlgos()
    for algo in [lev, sdx]:
        algo.add_words(m.get_keywords_unigrams())
        cache.add_algo(algo)
    m.add_fuzzy_algo(cache)
    m.add_fuzzy_algo(abbs)
    annots = m.annot_text("a resiratory distresssss")
    assert len(annots) == 1
    assert annots[0].to_string(debug=True) == (
        "a resiratory distresssss\t0 24\tacute respiratory distress (J80)\t"
        "a(abbs);resiratory(levenshtein);distresssss(soundex)"
    )


def test_doc_word_normalization_stemmer():
    """test_doc.py:871-893 with a deterministic stand-in for nltk's
    FrenchStemmer (not in this container): both 'prostate' and
    'prostatique' stem to 'prostat'."""
    stems = {"prostate": "prostat", "prostatique": "prostat",
             "cancer": "cancer"}
    m = Matcher.build(
        keywords=[("cancer de la prostate", "C61")],
        tokenizer=french_tokenizer(),
        stopwords=["de", "la"],
        normalizers=[dict(name="french_stemmer",
                          norm_fun=lambda w: stems.get(w, w))],
    )
    annots = m.annot_text("cancer prostatique")
    assert len(annots) == 1
    assert annots[0].kw_strings == ["cancer de la prostate (C61)"]


def test_doc_exact_match_custom_keyword():
    """test_doc.py:80-120: custom keyword objects (IKeyword contract) keep
    their own __str__ in annotation rendering; Entity renders
    'label (kb_id)'."""
    from iamsystem_python_spark import Entity

    class MyKeyword:
        def __init__(self, label, category, kb_name, uri):
            self.label = label
            self.kb_name = kb_name
            self.category = category
            self.kb_id = uri

        def __str__(self):
            return f"{self.kb_id}"

    ent1 = MyKeyword(
        label="acute respiratory distress syndrome",
        category="disease",
        kb_name="wikipedia",
        uri="https://www.wikidata.org/wiki/Q344873",
    )
    ent2 = Entity(label="diarrrhea", kb_id="R19.7")
    m = Matcher.build(keywords=[ent1, ent2])
    annots = m.annot_text("Pt c/o acute respiratory distress syndrome and diarrrhea")
    assert str(annots[0]) == (
        "acute respiratory distress syndrome\t7 42\t"
        "https://www.wikidata.org/wiki/Q344873"
    )
    assert str(annots[1]) == "diarrrhea\t47 56\tdiarrrhea (R19.7)"
    # reference API: the original keyword object comes back verbatim
    kw0 = annots[0].keywords[0]
    assert isinstance(kw0, MyKeyword)
    assert kw0.label == "acute respiratory distress syndrome"
    assert kw0.kb_id == "https://www.wikidata.org/wiki/Q344873"
    # internal tuple model is preserved for the batch kernels
    assert annots[0]._keywords[0] == (
        "acute respiratory distress syndrome",
        "https://www.wikidata.org/wiki/Q344873",
    )


def test_doc_window():
    """test_doc.py:122-135: w=2 matches across one interleaved token."""
    m = Matcher.build(keywords=["calcium level"], w=2)
    annots = m.annot_text("calcium blood level")
    assert str(annots[0]) == "calcium level\t0 7;14 19\tcalcium level"


def test_doc_no_overlap_strategy():
    """test_doc.py:137-152: NoOverlap strategy keeps the rightmost
    backtracked match only."""
    m = Matcher.build(
        keywords=["North America", "South America"], strategy="no_overlap"
    )
    annots = m.annot_text("North and South America")
    assert [str(a) for a in annots] == ["South America\t10 23\tSouth America"]


def test_doc_annotation_overlapping_not_ancestors():
    """test_doc.py:381-399: overlapping but not ancestors — both kept."""
    m = Matcher.build(keywords=["North America", "South America"], w=3)
    annots = m.annot_text("North and South America")
    assert str(annots[0]) == "North America\t0 5;16 23\tNorth America"
    assert str(annots[1]) == "South America\t10 23\tSouth America"


def test_doc_fuzzy_regex_negative_stopwords():
    """test_doc.py:841-869: NegativeStopwords + FuzzyRegex + custom split
    pattern detect 'calcium 2.1 mmol L'."""
    from iamsystem_python_spark.core.tokenize import (
        Tokenizer,
        lower_no_accents,
        split_find_iter_closure,
    )

    tokenizer = Tokenizer(
        split=split_find_iter_closure(pattern=r"(\w|\.|,)+"),
        normalize=lower_no_accents,
    )
    m = Matcher.build(
        keywords=["calcium numval mmol/L"],
        tokenizer=tokenizer,
        negative=True,
        fuzzy_regex=[
            dict(name="regex_num", pattern=r"^\d*[.,]?\d*$", pattern_name="numval")
        ],
    )
    annots = m.annot_text("the blood calcium level is normal: 2.1 mmol/L")
    assert len(annots) == 1
    # reference test asserts only the count; its inline comment golden
    # 'calcium 2.1 mmol L' is stale — ContSeqFormatter slices annot.text per
    # continuous sequence (tokenization/util.py:142-151), so the second
    # sequence (2.1, mmol, L → offsets 35..45) renders as '2.1 mmol/L'
    assert str(annots[0]) == "calcium 2.1 mmol/L\t10 17;35 45\tcalcium numval mmol/L"


def test_keyword_classes_terminology_and_broadcast_roundtrip():
    """Keyword/Entity/Terminology (reference keywords/keywords.py:18-63,
    collection.py:10-40) + the Spark broadcast path: a matcher built from
    keyword objects survives cloudpickle (what Spark uses for UDF closures)
    with custom rendering intact."""
    from pyspark import cloudpickle

    from iamsystem_python_spark import Entity, Keyword, Matcher, Terminology

    t = Terminology()
    t.add_keywords([Entity("insuffisance cardiaque", "I50.9"), Keyword("diarrrhea")])
    assert len(t) == 2
    assert [str(k) for k in t] == ["insuffisance cardiaque (I50.9)", "diarrrhea"]
    assert Entity("a", "b").asdict() == {"label": "a", "kb_id": "b"}
    m = cloudpickle.loads(cloudpickle.dumps(Matcher.build(keywords=t)))
    a = m.annot_text("insuffisance cardiaque et diarrrhea")
    assert [str(x) for x in a] == [
        "insuffisance cardiaque\t0 22\tinsuffisance cardiaque (I50.9)",
        "diarrrhea\t26 35\tdiarrrhea",
    ]


# --- Brat documentation examples — reference tests/test_doc.py:442-605 ------


def test_doc_brat_document():
    """test_doc.py:442-464: BratDocument golden incl. the IAMSYSTEM note."""
    from iamsystem_python_spark.core.brat import BratDocument
    from iamsystem_python_spark.core.keywords import Entity

    ent1 = Entity(label="North America", kb_id="NA")
    matcher = Matcher.build(keywords=[ent1], w=3)
    annots = matcher.annot_text(text="North and South America")
    doc = BratDocument()
    doc.add_annots(annots, brat_type="CONTINENT", keyword_attr=None)
    assert str(doc) == (
        "T1\tCONTINENT 0 5;16 23\tNorth America\n"
        "#1\tIAMSYSTEM T1\tNorth America (NA)"
    )


def test_doc_brat_doc_keyword_attr():
    """test_doc.py:466-493: custom Keyword subclass carrying brat_type,
    read via keyword_attr (getattr on the stored user object)."""
    from iamsystem_python_spark.core.brat import BratDocument
    from iamsystem_python_spark.core.keywords import Entity

    class TypedEntity(Entity):
        def __init__(self, label, code, brat_type):
            super().__init__(label, code)
            self.brat_type = brat_type

    ent1 = TypedEntity(label="North America", code="NA", brat_type="CONTINENT")
    matcher = Matcher.build(keywords=[ent1], w=3)
    annots = matcher.annot_text(text="North and South America")
    doc = BratDocument()
    doc.add_annots(annots=annots, keyword_attr="brat_type")
    assert str(doc) == (
        "T1\tCONTINENT 0 5;16 23\tNorth America\n"
        "#1\tIAMSYSTEM T1\tNorth America (NA)"
    )


def test_doc_brat_add_annots_requires_type_or_attr():
    """adapter.py:150-151: one of keyword_attr / brat_type must be set."""
    from iamsystem_python_spark.core.brat import BratDocument

    matcher = Matcher.build(keywords=["North America"], w=3)
    annots = matcher.annot_text(text="North America")
    with pytest.raises(ValueError):
        BratDocument().add_annots(annots)


def test_doc_brat_writer():
    """test_doc.py:495-525: BratWriter file golden."""
    import io

    from iamsystem_python_spark.core.brat import BratDocument, BratWriter
    from iamsystem_python_spark.core.keywords import Entity

    ent1 = Entity(label="North America", kb_id="NA")
    matcher = Matcher.build(keywords=[ent1], w=3)
    annots = matcher.annot_text(text="North and South America")
    doc = BratDocument()
    doc.add_annots(annots=annots, brat_type="CONTINENT")
    buf = io.StringIO()
    BratWriter.saveEntities(brat_entities=doc.get_entities(), write=buf.write)
    BratWriter.saveNotes(brat_notes=doc.get_notes(), write=buf.write)
    lines = buf.getvalue().splitlines(keepends=True)
    assert lines[0] == "T1\tCONTINENT 0 5;16 23\tNorth America\n"
    assert lines[1] == "#1\tIAMSYSTEM T1\tNorth America (NA)\n"


def test_doc_brat_default_formatter():
    """test_doc.py:527-538: default (ContSeq) str(annotation)."""
    matcher = Matcher.build(keywords=["North America"])
    annots = matcher.annot_text(text="North America")
    assert str(annots[0]) == "North America\t0 13\tNorth America"


def test_doc_brat_individual_token_formatter():
    """test_doc.py:540-556: global TOKEN formatter — one fragment per
    token."""
    from iamsystem_python_spark.core.matcher import Annotation, EBratFormatters

    matcher = Matcher.build(keywords=["North America"])
    annots = matcher.annot_text(text="North America")
    try:
        Annotation.set_brat_formatter(brat_formatter=EBratFormatters.TOKEN)
        assert str(annots[0]) == "North America\t0 5;6 13\tNorth America"
    finally:
        Annotation.set_brat_formatter(None)


def test_doc_brat_tokenstop_formatter():
    """test_doc.py:558-582: CONTINUOUS_SEQ_STOP keeps inner stopwords."""
    from iamsystem_python_spark.core.keywords import Entity
    from iamsystem_python_spark.core.matcher import Annotation, EBratFormatters

    matcher = Matcher.build(
        keywords=[Entity(label="cancer de prostate", kb_id="C61")],
        stopwords=["de", "la"],
    )
    annots = matcher.annot_text(text="cancer de la prostate")
    try:
        assert (
            str(annots[0])
            == "cancer prostate\t0 6;13 21\tcancer de prostate (C61)"
        )
        Annotation.set_brat_formatter(
            brat_formatter=EBratFormatters.CONTINUOUS_SEQ_STOP
        )
        assert (
            str(annots[0])
            == "cancer de la prostate\t0 21\tcancer de prostate (C61)"
        )
    finally:
        Annotation.set_brat_formatter(None)


def test_doc_brat_span_formatter():
    """test_doc.py:584-605: SPAN formatter spans start..end across
    unmatched middle tokens."""
    from iamsystem_python_spark.core.matcher import Annotation, EBratFormatters

    matcher = Matcher.build(keywords=["North America"], stopwords=["and"], w=2)
    annots = matcher.annot_text(text="North and South America")
    try:
        assert str(annots[0]) == "North America\t0 5;16 23\tNorth America"
        Annotation.set_brat_formatter(brat_formatter=EBratFormatters.SPAN)
        assert str(annots[0]) == "North and South America\t0 23\tNorth America"
    finally:
        Annotation.set_brat_formatter(None)


# --- matcher behaviors — reference tests/test_matcher.py --------------------


def _termino_ivg():
    """reference tests/utils.py:11-18 — two nested entities."""
    from iamsystem_python_spark.core.keywords import Entity, Terminology

    t = Terminology()
    t.add(Entity("Insuffisance Cardiaque", "I50.9"))
    t.add(Entity("Insuffisance Cardiaque Gauche", "I50.1"))
    return t


def test_matcher_duplicate_states_overlaps():
    """test_matcher.py test_duplicate_states_generate_lot_of_overlaps
    (issues #11/#18): state-set storage caps the blowup at 2 annotations
    with the exact discontinuous offsets."""
    m = Matcher.build(keywords=["cancer de la prostate"], w=3)
    annots = m.annot_text("cancer cancer de de la la prostate prostate")
    assert len(annots) == 2
    assert (
        str(annots[0])
        == "cancer de la prostate\t7 13;17 19;23 34\tcancer de la prostate"
    )


def test_matcher_states_override():
    """test_matcher.py test_states_override (issue #11): a repeated prefix
    re-arms the state instead of multiplying overlaps."""
    m = Matcher.build(keywords=["cancer", "cancer de la prostate"], w=10)
    annots = m.annot_text("cancer cancer cancer de la prostate")
    assert [str(a) for a in annots] == [
        "cancer\t0 6\tcancer",
        "cancer\t7 13\tcancer",
        "cancer de la prostate\t14 35\tcancer de la prostate",
    ]


def test_matcher_last_span_is_stopword():
    """test_matcher.py test_detect_with_last_span_is_stopword: a trailing
    stopword after a keyword is not part of the annotation."""
    from iamsystem_python_spark.core.keywords import Entity, Terminology

    t = Terminology()
    t.add(Entity("serpents", "C0037382"))
    m = Matcher(tokenizer=french_tokenizer())
    m.stopwords = Stopwords(["les"])
    m.add_keywords(t.keywords)
    annots = m.annot_text("serpents. Les vipères...")
    assert len(annots) == 1
    assert annots[0].label == "serpents"


def test_matcher_no_keyword():
    """test_matcher.py test_no_keyword: empty dictionary annotates to []"""
    m = Matcher.build(keywords=[])
    assert m.annot_text("nothing detected") == []


def test_matcher_none_existing_strategy_raises():
    """test_matcher.py test_none_existing_strategy: KeyError."""
    with pytest.raises(KeyError):
        Matcher.build(
            keywords=["cancer"], strategy="NoneExistingStrategy"
        )


def test_matcher_add_stopwords_warns_on_nostopwords():
    """test_matcher.py test_change_default_stopwords: NoStopwords has no
    storage; adding warns and does nothing."""
    from iamsystem_python_spark.core.stopwords import NoStopwords

    m = Matcher(tokenizer=french_tokenizer())
    m.stopwords = NoStopwords()
    with pytest.warns(Warning):
        m.add_stopwords(words=["le"])
    assert not m.stopwords.is_word_a_stopword("le")


def test_matcher_document_stopwords():
    """test_matcher.py test_document_stopwords: document-side stopwords
    bridge non-keyword tokens."""
    text = "insuffisance à cardiaque à gauche"
    m = Matcher.build(keywords=_termino_ivg().keywords)
    assert len(m.annot_text(text)) == 0
    m = Matcher.build(keywords=_termino_ivg().keywords, stopwords=["à"])
    assert len(m.annot_text(text)) == 1


def test_matcher_spellwise_params_overrides():
    """test_matcher.py test_spellwise_params_overrides: an explicit
    words2ignore beats build's string_distance_ignored_w for that algo."""
    from iamsystem_python_spark import SimpleWords2ignore

    text = "insuffisance cardiaqu gauche"
    m = Matcher.build(
        keywords=_termino_ivg().keywords,
        spellwise=[
            dict(
                max_distance=1,
                measure="levenshtein",
                words2ignore=SimpleWords2ignore(),
            )
        ],
        string_distance_ignored_w=["cardiaqu"],
    )
    assert len(m.annot_text(text)) == 1
    m = Matcher.build(
        keywords=_termino_ivg().keywords,
        spellwise=[dict(max_distance=1, measure="levenshtein")],
        string_distance_ignored_w=["cardiaqu"],
    )
    assert len(m.annot_text(text)) == 0


def test_matcher_spellwise_wrong_param():
    """test_matcher.py test_spellwise_wrong_param: unknown kwarg raises
    TypeError."""
    with pytest.raises(TypeError):
        Matcher.build(
            keywords=_termino_ivg().keywords,
            spellwise=[dict(max_distance=1, algo="levenshtein")],
        )


# --- detect behaviors — reference tests/test_detect.py ----------------------


def test_detect_detection_kb_ids():
    """test_detect.py:71-82 (test_detection): raw detect (no nested
    removal) yields both entities in (start, end) order with their
    kb_ids."""
    m = Matcher(tokenizer=french_tokenizer())
    m.add_keywords(_termino_ivg().keywords)
    m.w = 1
    m.remove_nested_annots = False
    annots = m.annot_text("Signes d'insuffisance cardiaque gauche")
    assert len(annots) == 2
    assert len(annots[0].keywords) == 1
    assert annots[0].keywords[0].kb_id == "I50.9"
    assert annots[1].keywords[0].kb_id == "I50.1"


def test_detect_overlap_but_not_ancestors():
    """test_detect.py:98-120: 'ulcere gastrique' overlaps
    'ulcere ... duodenale' but is not its ancestor — both survive
    rm_nested_annots, and the duodenal annotation spans the whole text."""
    from iamsystem_python_spark.core.keywords import Keyword

    text = "ulcere gastrique et duodenale"
    m = Matcher(tokenizer=french_tokenizer())
    m.stopwords = Stopwords(["et"])
    m.add_keywords([Keyword("Ulcère gastrique"), Keyword("Ulcère duodénale")])
    m.w = 2
    m.remove_nested_annots = False
    annots = m.annot_text(text)
    annots = rm_nested_annots(annots, keep_ancestors=False)
    assert len(annots) == 2
    assert annots[1].start == 0
    assert annots[1].end == len(text)


def test_detect_abbreviations_ic():
    """test_detect.py:122-128: 'IC' expands to 'insuffisance cardiaque'
    so both nested entities match on \"... d'IC gauche\"."""
    from iamsystem_python_spark.core.fuzzy import Abbreviations

    abbs = Abbreviations(name="abbs")
    abbs.add_tokenized_long_form("ic", ("insuffisance", "cardiaque"))
    abbs.add_tokenized_long_form("ins", ("insuffisance",))
    m = Matcher(tokenizer=french_tokenizer())
    m.add_keywords(_termino_ivg().keywords)
    m.add_fuzzy_algo(abbs)
    m.w = 1
    m.remove_nested_annots = False
    annots = m.annot_text("Le patient présente des signes d'IC gauche")
    assert len(annots) == 2


def test_detect_empty_string():
    """test_detect.py:159-163: empty text → no error, no annotation."""
    m = Matcher(tokenizer=french_tokenizer())
    m.add_keywords(_termino_ivg().keywords)
    assert m.annot_text("") == []


def test_detect_multiple_fuzzy_algos_token_attribution():
    """test_detect.py:165-194 (test_multiple_fuzzy_algos): each annotated
    token records which algorithm(s) matched it — 'Ins' by the
    abbreviation, 'Cardiaqu' by Levenshtein."""
    from iamsystem_python_spark.core.fuzzy import Abbreviations, LevenshteinAlgo

    abbs = Abbreviations(name="abbs")
    abbs.add_tokenized_long_form("ic", ("insuffisance", "cardiaque"))
    abbs.add_tokenized_long_form("ins", ("insuffisance",))
    leven = LevenshteinAlgo(max_distance=1, name="levenshtein")
    leven.add_words(["insuffisance", "cardiaque"])
    m = Matcher(tokenizer=french_tokenizer())
    m.add_keywords(_termino_ivg().keywords)
    m.add_fuzzy_algo(abbs)
    m.add_fuzzy_algo(leven)
    m.w = 1
    m.remove_nested_annots = False
    annots = m.annot_text("Ins Cardiaqu")
    assert len(annots) == 1
    pairs = list(annots[0].get_tokens_algos())
    assert len(pairs) == 2
    _, ins_algos = pairs[0]
    assert ins_algos == ["abbs"]
    _, card_algos = pairs[1]
    assert card_algos == ["levenshtein"]


def test_detect_custom_token_type_pos():
    """test_detect.py:196-237 (test_token_type): a custom token subclass
    carrying POS drives a custom FuzzyAlgo; the annotation preserves the
    custom token object."""
    from iamsystem_python_spark.core.fuzzy import FuzzyAlgo

    class TokenPOS(Token):
        def __init__(self, start, end, label, norm_label, i, pos):
            super().__init__(start, end, label, norm_label, i)
            self.pos = pos

    class FuzzyAlgoPos(FuzzyAlgo):
        def get_syns_of_token(self, token):
            if getattr(token, "pos", None) == "NOUN":
                return [("insuffisance",)]
            return []

    token_ins = TokenPOS(0, 4, "ins", "ins", 0, "NOUN")
    token_card = TokenPOS(0, 4, "cardiaque", "cardiaque", 1, "ADJ")
    m = Matcher(tokenizer=french_tokenizer())
    m.add_keywords(_termino_ivg().keywords)
    m.add_fuzzy_algo(FuzzyAlgoPos(name="fuzzyPos"))
    m.w = 1
    m.remove_nested_annots = False
    annots = m.annot_tokens([token_ins, token_card])
    assert len(annots) == 1
    assert annots[0].tokens[0].pos == "NOUN"
    token_ins.pos = "PUNCT"
    annots = m.annot_tokens([token_ins, token_card])
    assert len(annots) == 0


def _matcher_irc():
    """reference tests/utils.py get_termino_irc + utils_detector
    get_abbs_irc: the ambiguous short form IRC."""
    from iamsystem_python_spark.core.fuzzy import Abbreviations
    from iamsystem_python_spark.core.keywords import Entity

    tok = french_tokenizer()
    abbs = Abbreviations(name="abbs")
    abbs.add("irc", "insuffisance renale chronique", tok)
    abbs.add("irc", "insuffisance respiratoire chronique", tok)
    m = Matcher(tokenizer=tok)
    m.add_keywords(
        [
            Entity("Insuffisance Respiratoire Chronique", "J96.1"),
            Entity("Insuffisance Rénale Chronique", "N18"),
            Entity("Insuffisance Rénale Chronique Dialysée", "N18.X"),
        ]
    )
    m.add_fuzzy_algo(abbs)
    m.w = 1
    m.remove_nested_annots = False
    return m


def test_detect_ambiguity_kept():
    """test_detect.py:239-262: ambiguous 'IRC' yields 2 annotations and
    rm_nested_annots removes neither (same offsets)."""
    m = _matcher_irc()
    annots = m.annot_text("antécédent d'IRC")
    assert len(annots) == 2
    annots = rm_nested_annots(annots, keep_ancestors=False)
    assert len(annots) == 2


def test_detect_ambiguity_resolved_by_context():
    """test_detect.py:264-283: 'dialysée' after 'IRC' extends only the
    renal path, so rm_nested removes the two short annotations
    (keep_ancestors=True keeps the renal ancestor)."""
    m = _matcher_irc()
    annots = m.annot_text("antécédent d'IRC dialysée")
    assert len(annots) == 3
    assert len(rm_nested_annots(annots, keep_ancestors=False)) == 1
    assert len(rm_nested_annots(annots, keep_ancestors=True)) == 2


# --- stopword classes — reference tests/test_stopwords.py -------------------


def test_stopwords_init_and_add():
    """test_stopwords.py:14-36: init from list or set; add one or many."""
    from iamsystem_python_spark.core.stopwords import Stopwords as SW

    assert SW(["le", "la"]).is_stopword("le")
    assert SW({"le", "la"}).is_stopword("le")
    sw = SW()
    assert not sw.is_stopword("du")
    sw.add(words=["du"])
    assert sw.is_stopword("du")
    sw.add(words=["le", "la"])
    assert sw.is_stopword("le") and sw.is_stopword("la")


def test_stopwords_whitespace_always_stopword():
    """test_stopwords.py:38-42: whitespace strings are stopwords."""
    from iamsystem_python_spark.core.stopwords import Stopwords as SW

    sw = SW()
    assert sw.is_stopword(" ")
    assert sw.is_stopword("\n")
    assert sw.is_stopword(" \t ")


def test_stopwords_accent_not_removed():
    """test_stopwords.py:44-52: the token probe uses the raw label — 'à'
    stored matches token label 'à' (norm_label 'a'), but a plain 'a' token
    does not match."""
    from iamsystem_python_spark.core.stopwords import Stopwords as SW

    sw = SW()
    sw.add(words=["à"])
    assert sw.is_token_a_stopword(Token(0, 1, "à", "a", 0))
    assert not sw.is_token_a_stopword(Token(0, 1, "a", "a", 0))


def test_negative_stopwords_keep_word_and_fun():
    """test_stopwords.py:55-84: everything is a stopword unless kept by
    word or by a keep-function."""
    token = Token(0, 1, "patient", "patient", 0)
    ns = NegativeStopwords()
    assert ns.is_token_a_stopword(token)
    ns.add_words(words_to_keep=["patient"])
    assert not ns.is_token_a_stopword(token)
    ns2 = NegativeStopwords()
    assert ns2.is_token_a_stopword(token)
    ns2.add_fun_is_a_word_to_keep(lambda t: t.norm_label.islower())
    assert not ns2.is_token_a_stopword(token)


def test_no_stopwords_has_no_add():
    """test_stopwords.py:87-98: NoStopwords never matches and has no
    'add' method (AttributeError like the reference)."""
    from iamsystem_python_spark.core.stopwords import NoStopwords

    ns = NoStopwords()
    assert not ns.is_token_a_stopword(Token(0, 2, "du", "du", 0))
    assert not ns.is_stopword("du")
    with pytest.raises(AttributeError):
        ns.add("du")


def test_empty_string_is_not_a_stopword():
    """Reference simple.py:27-30: is_stopword('') is False (''.isspace()
    is False); whitespace stays True (ADVICE r03)."""
    from iamsystem_python_spark.core.stopwords import Stopwords

    sw = Stopwords(["le"])
    assert not sw.is_stopword("")
    assert sw.is_stopword(" ")
    assert sw.is_stopword("le")


def test_build_accepts_any_istopwords_instance():
    """Matcher.build accepts any duck-typed IStopwords — NoStopwords and
    user implementations — like the reference (matcher.py:389), not just
    Stopwords/NegativeStopwords (ADVICE r03 regression)."""
    from iamsystem_python_spark.core.stopwords import NoStopwords

    m = Matcher.build(keywords=["north america"], stopwords=NoStopwords())
    assert isinstance(m.stopwords, NoStopwords)
    assert [a.label for a in m.annot_text("north america")] == ["north america"]

    class OnlyThe:  # minimal user IStopwords
        def is_token_a_stopword(self, token):
            return token.norm_label == "the"

    m2 = Matcher.build(keywords=["north america"], stopwords=OnlyThe())
    assert [a.label for a in m2.annot_text("north the america")] == [
        "north america"
    ]


# --- annotation surface — reference tests/test_annotation.py ----------------


def _annots_prostate():
    """test_annotation.py setUp: two overlapping entities, raw annots."""
    from iamsystem_python_spark.core.keywords import Entity

    m = Matcher(tokenizer=english_tokenizer())
    m.add_keywords(
        [Entity("prostate", "P"), Entity("prostate cancer", "PK")]
    )
    m.w = 1
    m.remove_nested_annots = False
    text = "diagnosis of Prostate Cancer"
    annots = m.annot_text(text)
    assert len(annots) == 2
    return text, annots


def test_annotation_golden_strings():
    """test_annotation.py:116-146: exact to_string / text / debug
    renderings, including Entity 'label (kb_id)' keyword rendering."""
    text, annots = _annots_prostate()
    prostate_cancer = annots[1]
    assert annots[0].label == "Prostate"
    assert prostate_cancer.label == "Prostate Cancer"
    assert (
        prostate_cancer.to_string()
        == "Prostate Cancer\t13 28\tprostate cancer (PK)"
    )
    assert prostate_cancer.to_string(text=True) == (
        "Prostate Cancer\t13 28\tprostate cancer (PK)\tProstate Cancer"
    )
    assert prostate_cancer.to_string(debug=True) == (
        "Prostate Cancer\t13 28\tprostate cancer (PK)\t"
        "prostate(exact);cancer(exact)"
    )
    assert text[prostate_cancer.start : prostate_cancer.end] == "Prostate Cancer"


def test_annotation_rm_nested_and_ancestor():
    """test_annotation.py:69-103: left-overlap removal, ancestor
    detection, keep_ancestors switch."""
    from iamsystem_python_spark.core.matcher import (
        is_ancestor_annot_of,
        is_shorter_span_of,
    )

    _, annots = _annots_prostate()
    prostate, prostate_cancer = annots
    assert is_ancestor_annot_of(prostate, prostate_cancer)
    assert is_shorter_span_of(prostate, prostate_cancer)
    filt = rm_nested_annots(annots, keep_ancestors=False)
    assert prostate not in filt and len(filt) == 1
    assert len(rm_nested_annots(annots, keep_ancestors=True)) == 2


def test_annotation_sort():
    """test_annotation.py:108-114: sort_annot orders by start."""
    from iamsystem_python_spark.core.matcher import sort_annot

    _, annots = _annots_prostate()
    pair = [annots[1], annots[0]]
    sort_annot(pair)
    assert pair[0] is annots[0] and pair[1] is annots[1]


def test_annotation_stop_tokens():
    """test_annotation.py:237-243."""
    m = Matcher.build(keywords=["cancer prostate"], stopwords=["de", "la"])
    annots = m.annot_text("cancer de la prostate")
    assert len(annots[0].stop_tokens) == 2


def test_annotation_stop_tokens_reverse_ordered():
    """test_annotation.py:245-258: with order_tokens=True, inside-span
    stopwords keep document order z, x, y."""
    m = Matcher.build(
        keywords=["cancer prostate"],
        stopwords=["z", "y", "x", "a", "de"],
        order_tokens=True,
        w=3,
    )
    annots = m.annot_text("a prostate z x y cancer de")
    assert len(annots[0].stop_tokens) == 3
    assert [t.label for t in annots[0].stop_tokens] == ["z", "x", "y"]


def test_transition_state_equality_and_override():
    """test_annotation.py:180-205: equality/hash by node number; a new
    transition to the same node replaces the stored one."""
    from iamsystem_python_spark.core.matcher import StateTransition
    from iamsystem_python_spark.core.trie import Node

    trie = Trie()
    node = Node("insuffisance", 1, trie.root)
    t0 = StateTransition(
        previous_trans=None, node=node,
        token=Token(0, 3, "ins", "ins", 0), algos=["one"],
        count_not_stopword=0,
    )
    start = StateTransition.create_first_trans(Trie().root)
    t1 = StateTransition(
        previous_trans=start, node=node, token=None, algos=["one"],
        count_not_stopword=0,
    )
    assert t0 == t1
    s = set()
    s.add(t0)
    s.discard(t1)
    s.add(t1)
    assert len(s) == 1
    assert next(iter(s)).token is None


# --- tree surface — reference tests/test_tree.py -----------------------------


def test_tree_number_of_nodes_and_initial_state():
    """test_tree.py:22-40: node counting (root included) and
    is_root_node."""
    from iamsystem_python_spark.core.trie import Node

    trie = Trie()
    assert trie.get_number_of_nodes() == 1
    trie.add_keyword_with_tokens(
        "Insuffisance Cardiaque", "I50.9", ["insuffisance", "cardiaque"]
    )
    assert trie.get_number_of_nodes() == 3
    trie.add_keyword_with_tokens(
        "Insuffisance Cardiaque Gauche",
        "I50.1",
        ["insuffisance", "cardiaque", "gauche"],
    )
    assert trie.get_number_of_nodes() == 4
    assert Node.is_root_node(trie.get_initial_state())
    assert not Node.is_root_node(EMPTY_NODE)


def test_tree_build_trie_reference_style():
    """test_tree.py:42-79: trie.add_keywords with tokenizer+stopwords;
    stopword tokens don't create nodes."""
    from iamsystem_python_spark.core.keywords import Entity

    termino = [
        Entity("Insuffisance Cardiaque", "I50.9"),
        Entity("Insuffisance Cardiaque Gauche", "I50.1"),
    ]
    tok = french_tokenizer()
    trie = Trie()
    trie.add_keywords(termino, tokenizer=tok, stopwords=Stopwords())
    assert trie.get_initial_state().has_transition_to("insuffisance")
    assert trie.get_number_of_nodes() == 4
    trie2 = Trie()
    trie2.add_keywords(
        termino, tokenizer=tok, stopwords=Stopwords(["insuffisance"])
    )
    assert trie2.get_number_of_nodes() == 3
    assert not trie2.get_initial_state().has_transition_to("insuffisance")
    assert trie2.get_initial_state().has_transition_to("cardiaque")


def test_tree_build_trie_no_normalizer():
    """test_tree.py:81-102: with an identity normalizer the trie stores
    raw casing."""
    from iamsystem_python_spark.core.keywords import Entity
    from iamsystem_python_spark.core.tokenize import Tokenizer, split_alpha_num

    tok = Tokenizer(split=split_alpha_num, normalize=lambda s: s)
    trie = Trie()
    trie.add_keywords(
        [
            Entity("Insuffisance Cardiaque", "I50.9"),
            Entity("Insuffisance Cardiaque Gauche", "I50.1"),
        ],
        tokenizer=tok,
        stopwords=Stopwords(),
    )
    assert trie.get_number_of_nodes() == 4
    assert not trie.get_initial_state().has_transition_to("insuffisance")
    assert trie.get_initial_state().has_transition_to("Insuffisance")


def test_tree_warning_ent_not_added():
    """test_tree.py:104-120: all tokens stopworded → warning."""
    from iamsystem_python_spark.core.keywords import Entity

    trie = Trie()
    with pytest.warns(Warning):
        trie.add_keywords(
            [Entity("Insuffisance Cardiaque", "I50.9")],
            tokenizer=french_tokenizer(),
            stopwords=Stopwords(["insuffisance", "cardiaque"]),
        )


def test_tree_node_surface():
    """test_tree.py:135-216: node equality by node_num, transitions,
    ancestors, children, goto/jump, final states, keyword storage."""
    from iamsystem_python_spark.core.keywords import Entity
    from iamsystem_python_spark.core.trie import Node

    # keyword duplicates kept
    node = Node(token="gauche", node_num=3)
    ent = Entity("Insuffisance Cardiaque Gauche", "XXX")
    node.add_keyword(ent)
    node.add_keyword(ent)
    assert len(list(node.get_keywords())) == 2

    # equality by node_num
    assert Node(token="insuffisance", node_num=1) == Node(token="cardiaque", node_num=1)
    assert Node(token="insuffisance", node_num=1) != Node(token="insuffisance", node_num=99)

    # chain root -> insuffisance -> cardiaque -> gauche (reference
    # NodeTest.setUp anchors the chain at a trie root — the ancestor walk
    # terminates at node_num 0)
    root = Trie().get_initial_state()
    ins = Node(token="insuffisance", node_num=1, parent_node=root)
    card = Node(token="cardiaque", node_num=2, parent_node=ins)
    gauche = Node(token="gauche", node_num=3, parent_node=card)
    assert ins.has_transition_to("cardiaque")
    assert not ins.has_transition_to("gauche")
    assert card in gauche.get_ancestors() and ins in gauche.get_ancestors()
    assert len(list(ins.get_children_nodes())) == 1
    assert len(list(card.get_children_nodes())) == 1
    assert len(list(gauche.get_children_nodes())) == 0
    assert ins.goto_node("cardiaque") == card
    assert Node(token="x", node_num=9).goto_node("cardiaque") == EMPTY_NODE
    assert ins.token == "insuffisance"
    assert ins.jump_to_node(["cardiaque"]) == card
    assert ins.jump_to_node(["cardiaque", "gauche"]) == gauche
    assert ins.jump_to_node(["gauche"]) == EMPTY_NODE

    # final state iff keyword attached
    lone = Node(token="insuffisance", node_num=1)
    assert not lone.is_a_final_state()
    ent2 = Entity("Insuffisance", "XXX")
    lone.add_keyword(ent2)
    assert lone.is_a_final_state()
    assert ent2 in lone.get_keywords()


def test_tree_empty_node_behaviors():
    """test_tree.py:219-245: the EMPTY sink."""
    assert EMPTY_NODE.goto_node("insuffisance") is EMPTY_NODE
    assert EMPTY_NODE.jump_to_node(["insuffisance", "cardiaque"]) is EMPTY_NODE
    assert not EMPTY_NODE.is_a_final_state()
    assert not EMPTY_NODE.has_transition_to("any token")
    assert EMPTY_NODE.node_num == -1
    assert EMPTY_NODE.parent_node is EMPTY_NODE


# --- fuzzy algorithms — reference tests/test_fuzzy.py ------------------------


class _CountingFuzzy(FuzzyAlgo):
    """reference TestFuzzyAlgo: exact match + call counter."""

    def __init__(self, name="test_fuzzy"):
        super().__init__(name)
        self.calls = 0

    def get_syns_of_word(self, word):
        self.calls += 1
        return [(word,)]


def test_fuzzy_abbreviations_uppercase_gate_swap():
    """test_fuzzy.py:60-105: uppercase gate on/off and a custom
    token_is_an_abbreviation function swapped in after construction."""
    from iamsystem_python_spark.core.fuzzy import (
        Abbreviations,
        token_is_upper_case,
    )

    tok = french_tokenizer()
    abbs = Abbreviations(
        name="my abbreviations", token_is_an_abbreviation=token_is_upper_case
    )
    abbs.add("avc", "accident vasculaire cerebral", tok)

    def first_forms(text):
        return list(abbs.get_syns_of_token(tok.tokenize(text)[0]))

    assert len(first_forms("AVC sylvien")) == 1
    assert len(first_forms("avc sylvien")) == 0
    abbs.is_token_an_abbreviation = lambda t: t.label[0].isupper()
    assert len(first_forms("aVC sylvien")) == 0
    assert len(first_forms("Avc sylvien")) == 1


def test_fuzzy_abbreviations_add_and_lookup():
    """test_fuzzy.py:108-160: no syn for unknown word; multiple long
    forms accumulate; uppercase short form stored lowercased."""
    from iamsystem_python_spark.core.fuzzy import Abbreviations

    tok = french_tokenizer()
    abbs = Abbreviations(name="abbs")
    assert len(list(abbs.get_syns_of_word("avc"))) == 0
    abbs.add("avc", "accident vasculaire cerebral", tok)
    forms = list(abbs.get_syns_of_word("avc"))
    assert forms == [("accident", "vasculaire", "cerebral")]
    abbs.add("avc", "another abbreviation", tok)
    assert len(list(abbs.get_syns_of_word("avc"))) == 2
    abbs2 = Abbreviations(name="abbs")
    abbs2.add_tokenized_long_form("avc", ["accident", "vasculaire", "cerebral"])
    assert ("accident", "vasculaire", "cerebral") in list(
        abbs2.get_syns_of_word("avc")
    )
    abbs3 = Abbreviations(name="abbs")
    abbs3.add("AVC", "accident vasculaire cerebral", tok)
    assert len(list(abbs3.get_syns_of_word("avc"))) == 1


def test_fuzzy_exact_match_format():
    """test_fuzzy.py:186-191."""
    assert ("insuffisance",) in ExactMatch().get_syns_of_word("insuffisance")


def test_fuzzy_get_norm_label_algos_syns_order():
    """test_fuzzy.py:194-218: all (syn, algo) pairs in algo order."""
    from iamsystem_python_spark.core.fuzzy import (
        Abbreviations,
        get_norm_label_algos_syns,
    )
    from iamsystem_python_spark.core.tokenize import english_tokenizer

    tok = english_tokenizer()
    abbs = Abbreviations(name="abbs")
    abbs.add("fr", "frequence respiratoire", tok)
    syns = get_norm_label_algos_syns(
        fuzzy_algos=[ExactMatch(), abbs], norm_label="fr"
    )
    assert len(syns) == 2
    assert syns[0][0] == ("fr",)
    assert syns[1][0] == ("frequence", "respiratoire")


def test_fuzzy_cache_public_surface():
    """test_fuzzy.py:221-273: call counting, memoization, the public
    .cache dict, empty-on-add, and spellwise-in-cache."""
    from iamsystem_python_spark.core.fuzzy import (
        CacheFuzzyAlgos,
        LevenshteinAlgo,
    )

    counting = _CountingFuzzy()
    counting.get_syns_of_word("insuffisance")
    counting.get_syns_of_word("insuffisance")
    assert counting.calls == 2

    cache = CacheFuzzyAlgos()
    cache.add_algo(counting)
    assert counting.calls == 2
    cache.get_syns_of_word("insuffisance")
    assert counting.calls == 3
    cache.get_syns_of_word("insuffisance")
    assert counting.calls == 3
    assert "insuffisance" in cache.cache

    cache2 = CacheFuzzyAlgos()
    assert cache2.get_syns_of_word("insuffisance") == []
    cache2.add_algo(ExactMatch())
    syns = cache2.get_syns_of_word("insuffisance")
    assert syns[0] == (("insuffisance",), "exact")

    leven = LevenshteinAlgo(max_distance=1, name="levenshtein")
    leven.add_words(["insuffisance"])
    cache3 = CacheFuzzyAlgos()
    cache3.add_algo(leven)
    syns = cache3.get_syns_of_word("insufisance")
    assert ("insuffisance",) in syns[0]
    assert cache3.max_nb_of_words == 100_000


def test_fuzzy_regex_replace_pattern_in_keyword():
    """test_fuzzy.py:277-315: custom split keeps '2.1' whole; the keyword
    clone gets its numeric span replaced by the pattern name."""
    from iamsystem_python_spark.core.keywords import Keyword
    from iamsystem_python_spark.core.tokenize import (
        Tokenizer,
        lower_no_accents,
        split_find_iter_closure,
    )

    fuzzy = FuzzyRegex(
        name="regex_num", pattern=r"^\d*[.,]?\d*$", pattern_name="numval"
    )
    tok = Tokenizer(
        split=split_find_iter_closure(r"(\w|\.|,)+"),
        normalize=lower_no_accents,
    )
    assert len(tok.tokenize("calcium 2.1 mmol/L")) == 4
    kw = Keyword("calcium 2.1 mmol/L")
    new_kw = fuzzy.replace_pattern_in_keyword(keyword=kw, tokenizer=tok)
    assert new_kw.label == "calcium numval mmol/L"
    assert kw.label == "calcium 2.1 mmol/L"  # clone, not mutation
    assert ("numval",) in fuzzy.get_syns_of_word("2.1")


def test_fuzzy_regex_detection_with_matcher():
    """test_fuzzy.py:308-315 (test_detection): the matcher misses without
    the fuzzy regex and hits with it."""
    from iamsystem_python_spark.core.keywords import Keyword
    from iamsystem_python_spark.core.tokenize import (
        Tokenizer,
        lower_no_accents,
        split_find_iter_closure,
    )

    tok = Tokenizer(
        split=split_find_iter_closure(r"(\w|\.|,)+"),
        normalize=lower_no_accents,
    )
    fuzzy = FuzzyRegex(
        name="regex_num", pattern=r"^\d*[.,]?\d*$", pattern_name="numval"
    )
    m = Matcher(tokenizer=tok)
    m.add_keywords([Keyword("CALCIUM NUMVAL mmol/L")])
    assert len(m.annot_text("calcium 2.1 mmol/L")) == 0
    m.add_fuzzy_algo(fuzzy)
    assert len(m.annot_text("calcium 2.1 mmol/L")) == 1


def test_fuzzy_word_normalizer_stemmer():
    """test_fuzzy.py:318-350: a simple stemmer maps gastrologique to
    gastrique; detection through the matcher works."""
    from iamsystem_python_spark.core.keywords import Keyword

    def simple_stemmer(s):
        return "gastr" if s.startswith("gastr") else s

    stemmer = WordNormalizer(name="stemmer", norm_fun=simple_stemmer)
    stemmer.add_words(["gastrique", "gastriques"])
    assert ("gastrique",) in stemmer.get_syns_of_word("gastrologique")

    stemmer2 = WordNormalizer(name="stemmer", norm_fun=simple_stemmer)
    stemmer2.add_words(["gastrique"])
    m = Matcher(tokenizer=french_tokenizer())
    m.add_fuzzy_algo(stemmer2)
    m.add_keywords([Keyword("Ulcère gastrique"), Keyword("Ulcère duodénale")])
    assert len(m.annot_text("Ulcère gastrologique")) == 1


# --- tokenization utils — reference tests/test_toknorm.py --------------------


def test_toknorm_split_alpha_num_offsets():
    """test_toknorm.py:21-43: split offsets carry .start/.end; empty and
    whitespace inputs yield nothing; punctuation splits."""
    from iamsystem_python_spark.core.tokenize import split_alpha_num

    offsets = list(split_alpha_num("one two"))
    assert len(offsets) == 2
    assert offsets[1].start == 4 and offsets[1].end == 7
    assert list(split_alpha_num("")) == []
    assert list(split_alpha_num(" ")) == []
    text = "one,two"
    toks = list(split_alpha_num(text))
    assert len(toks) == 2
    assert toks[1].end == 7
    assert text[toks[0].start : toks[0].end] == "one"
    assert len(list(split_alpha_num("L'ulcères"))) == 2
    assert len(list(split_alpha_num("meningo-encéphalite"))) == 2


def test_toknorm_concat_and_span_seq_id():
    """test_toknorm.py:56-79."""
    from iamsystem_python_spark.core.tokenize import (
        concat_tokens_label,
        concat_tokens_norm_label,
    )

    tokens = french_tokenizer().tokenize("Meningo-encéphalite")
    assert get_span_seq_id(tokens) == "(0,7);(8,19)"
    assert concat_tokens_norm_label(tokens) == "meningo encephalite"
    assert concat_tokens_label(tokens) == "Meningo encéphalite"


def test_toknorm_replace_offsets_accepts_tokens():
    """test_toknorm.py:80-98: (token, new_str) pairs work directly."""
    text = "insuffisance -> ventriculaire -> gauche"
    tokens = french_tokenizer().tokenize(text)
    assert len(tokens) == 3
    out = replace_offsets_by_new_str(
        text=text, offsets_new_str=zip(tokens, ["ins", "vent", "g."])
    )
    assert out == "ins -> vent -> g."


def test_toknorm_discontinuous_sequences():
    """test_toknorm.py:100-129: islands, trailing-stopword trim, and
    seq→offsets."""
    from iamsystem_python_spark.core.tokenize import multiple_seq_to_offsets

    tokens_all = french_tokenizer().tokenize(
        "a sentence with multiple tokens to gen num tokens, number 10"
    )
    tokens = [tokens_all[i] for i in [0, 1, 2, 5, 6, 8, 10]]
    seqs = group_continuous_seq(tokens)
    assert [len(s) for s in seqs] == [3, 2, 1, 1]
    out = remove_trailing_stopwords(sequences=seqs, stop_i=[2])
    assert len(out[0]) == 2
    out = remove_trailing_stopwords(sequences=seqs, stop_i=[1])
    assert len(out[0]) == 3
    assert len(out) == 4
    out = remove_trailing_stopwords(sequences=seqs, stop_i=[5, 6, 10])
    assert len(out) == 2
    offs = multiple_seq_to_offsets(seqs)
    assert len(offs) == 4


def test_toknorm_lower_no_accents():
    """test_toknorm.py:131-144."""
    from iamsystem_python_spark.core.tokenize import lower_no_accents

    assert lower_no_accents("One Two") == "one two"
    assert lower_no_accents(" ulcères ") == " ulceres "
    assert lower_no_accents("μg") == "ug"


def _nfkd_fold(s):
    """lower_no_accents without its ASCII shortcut, written out."""
    import unicodedata

    nfkd = unicodedata.normalize("NFKD", s.replace("μ", "u"))
    return "".join(c for c in nfkd if not unicodedata.combining(c)).lower()


def test_lower_no_accents_ascii_fold_equals_nfkd():
    from iamsystem_python_spark.core.tokenize import lower_no_accents

    ascii_chars = [chr(c) for c in range(128)]
    assert [lower_no_accents(c) for c in ascii_chars] == [
        _nfkd_fold(c) for c in ascii_chars
    ]
    for s in [
        "".join(ascii_chars),
        "Insuffisance cardiaque aiguë",
        "5 μg/ml",
        "ﬁbrose ﬂ",
        "ＡＢＣ ｄｅｆ １２",
        "Élève À ÇA",
        "plain ASCII Text",
        "",
    ]:
        assert lower_no_accents(s) == _nfkd_fold(s)


def _tokens_per_token_path(text):
    """Tokens built the pre-regex-seam way: one Offsets per \\w+ match,
    label sliced per token and folded with the NFKD expression."""
    return [
        Token(start=s, end=e, label=text[s:e], norm_label=_nfkd_fold(text[s:e]), i=i)
        for i, (s, e) in enumerate(split_alpha_num(text))
    ]


def test_tokenize_non_ascii_equals_per_token_path():
    text = "Insuffisance cardiaque aiguë, 5 μg/ﬁ"
    got = french_tokenizer().tokenize(text)
    assert got == _tokens_per_token_path(text)
    assert [t.norm_label for t in got] == [
        "insuffisance", "cardiaque", "aigue", "5", "ug", "fi",
    ]


def test_tokenize_user_split_equals_regex_seam():
    """A split closure with no ``pattern_re`` goes through ``self.split``
    and gives the same tokens as the compiled-regex seam."""
    import re

    from iamsystem_python_spark.core.tokenize import Offsets, Tokenizer

    def user_split(text):
        return (Offsets(m.start(), m.end()) for m in re.finditer(r"\w+", text))

    assert not hasattr(user_split, "pattern_re")
    seam, user = french_tokenizer(), Tokenizer(split=user_split)
    for text in ["Insuffisance cardiaque aiguë, 5 μg/ﬁ", "a b  c", "", "..."]:
        assert user.tokenize(text) == seam.tokenize(text)
        assert list(user.norm_labels_iter(text)) == list(seam.norm_labels_iter(text))
    ordered = Tokenizer(split=user_split, order_tokens=True)
    assert ordered.tokenize("b a c") == french_tokenizer(True).tokenize("b a c")


def test_token_value_semantics():
    import pickle

    from pyspark import cloudpickle

    from iamsystem_python_spark.core.api import IToken

    t = Token(0, 4, "Word", "word", 0)
    assert t == Token(start=0, end=4, label="Word", norm_label="word", i=0)
    assert t != Token(0, 4, "Word", "word", 1)
    assert t != (0, 4, "Word", "word", 0)
    assert hash(t) == hash(Token(0, 4, "Word", "word", 0))
    assert len({t, Token(0, 4, "Word", "word", 0)}) == 1
    assert repr(t) == (
        "Token(start=0, end=4, label='Word', norm_label='word', i=0)"
    )
    assert t.as_tuple() == (0, 4, "Word", "word", 0)
    for proto in range(pickle.HIGHEST_PROTOCOL + 1):
        assert pickle.loads(pickle.dumps(t, proto)) == t
    assert cloudpickle.loads(cloudpickle.dumps(t)) == t
    assert isinstance(t, IToken)


# --- simstring wrapper — reference tests/test_simstring.py -------------------


def _ss():
    from iamsystem_python_spark.core.fuzzy import SimStringWrapper

    return SimStringWrapper


def test_simstring_measure_strings_and_reject():
    """test_simstring.py:14-34: 'DICE'/'dice' accepted, 'cosin' raises
    KeyError."""
    SimStringWrapper = _ss()
    for measure in ("DICE", "dice"):
        algo = SimStringWrapper(
            measure=measure, words=["paracetamol"], threshold=0.2
        )
        assert len(list(algo.get_syns_of_word("paracetamol"))) == 1
    with pytest.raises(KeyError):
        SimStringWrapper(measure="cosin", words=["paracetamol"], threshold=0.2)


def test_simstring_thresholds():
    """test_simstring.py:36-61: threshold=1 is exact; 0.5 default; 0.2
    catches 'para' when min_nb_char=0."""
    SimStringWrapper = _ss()
    exact = SimStringWrapper(words=["paracetamol"], threshold=1)
    assert len(list(exact.get_syns_of_word("paracetomol"))) == 0
    assert len(list(exact.get_syns_of_word("paracetamol"))) == 1
    half = SimStringWrapper(words=["paracetamol"])
    assert len(list(half.get_syns_of_word("paracetomol"))) == 1
    assert len(list(half.get_syns_of_word("para"))) == 0
    low = SimStringWrapper(words=["paracetamol"], threshold=0.2, min_nb_char=0)
    assert len(list(low.get_syns_of_word("paracetomol"))) == 1
    assert len(list(low.get_syns_of_word("para"))) == 1


def test_simstring_exact_and_other_measures():
    """test_simstring.py:63-80: EXACT retrieves only the identical
    string; every non-exact measure catches the typo at default
    threshold."""
    from iamsystem_python_spark.core.fuzzy import ESimStringMeasure

    SimStringWrapper = _ss()
    exact = SimStringWrapper(
        words=["paracetamol"], measure=ESimStringMeasure.EXACT
    )
    assert len(list(exact.get_syns_of_word("paracetomol"))) == 0
    assert len(list(exact.get_syns_of_word("paracetamol"))) == 1
    for measure in ESimStringMeasure:
        if measure.value == "exact":
            continue
        algo = SimStringWrapper(words=["paracetamol"], measure=measure)
        assert len(list(algo.get_syns_of_word("paracetomol"))) == 1, measure


def test_simstring_with_matcher_and_cache():
    """test_simstring.py:82-98: detection through the matcher, directly
    and via CacheFuzzyAlgos."""
    from iamsystem_python_spark.core.fuzzy import CacheFuzzyAlgos

    SimStringWrapper = _ss()
    for use_cache in (False, True):
        m = Matcher(tokenizer=french_tokenizer())
        m.add_keywords(["paracetamol", "les"])
        algo = SimStringWrapper(words=m.get_keywords_unigrams())
        if use_cache:
            cache = CacheFuzzyAlgos()
            cache.add_algo(algo)
            m.add_fuzzy_algo(cache)
        else:
            m.add_fuzzy_algo(algo)
        annots = m.annot_text("le paractamol")
        assert len(annots) == 1


def test_simstring_multiple_independent_databases():
    """test_simstring.py:100-137: two simstring algos merge their names on
    a matched token; with independent word lists only the matching one
    appears."""
    from iamsystem_python_spark.core.fuzzy import ESimStringMeasure

    SimStringWrapper = _ss()
    m = Matcher(tokenizer=french_tokenizer())
    m.add_keywords(["paracetamol", "les"])
    m.add_fuzzy_algo(
        SimStringWrapper(
            words=m.get_keywords_unigrams(),
            name="ss_dice",
            measure=ESimStringMeasure.DICE,
        )
    )
    m.add_fuzzy_algo(
        SimStringWrapper(
            words=m.get_keywords_unigrams(),
            name="ss_jaccard",
            measure=ESimStringMeasure.JACCARD,
        )
    )
    annots = m.annot_text("le paractamol")
    assert len(annots) == 1
    assert annots[0].algos[0] == ["ss_dice", "ss_jaccard"]

    m2 = Matcher(tokenizer=french_tokenizer())
    m2.add_keywords(["paracetamol", "les"])
    m2.add_fuzzy_algo(
        SimStringWrapper(
            words=m2.get_keywords_unigrams(),
            name="ss_dice",
            measure=ESimStringMeasure.DICE,
        )
    )
    m2.add_fuzzy_algo(
        SimStringWrapper(
            words=["NothingInterestingHere"],
            name="ss_jaccard",
            measure=ESimStringMeasure.JACCARD,
        )
    )
    annots = m2.annot_text("le paractamol")
    assert len(annots) == 1
    assert annots[0].algos[0] == ["ss_dice"]


# --- spellwise wrapper — reference tests/test_spellwise.py -------------------


def _ivg_unigrams():
    from iamsystem_python_spark.core.keywords import Terminology

    t = _termino_ivg()
    return sorted(
        t.get_unigrams(tokenizer=french_tokenizer(), stopwords=Stopwords())
    )


def test_spellwise_name_and_measure_strings():
    """test_spellwise.py:33-58: default name is the enum NAME; string
    measures in any case work; a misspelled measure raises KeyError."""
    from iamsystem_python_spark.core.fuzzy import (
        ESpellWiseAlgo,
        SpellWiseWrapper,
    )

    leven = SpellWiseWrapper(ESpellWiseAlgo.LEVENSHTEIN, max_distance=1)
    assert leven.name == "LEVENSHTEIN"
    for measure in ("LEVENSHTEIN", "Levenshtein"):
        algo = SpellWiseWrapper(measure=measure, max_distance=1)
        algo.add_words(words=_ivg_unigrams())
        assert ("insuffisance",) in algo.get_syns_of_word("insufisance")
    with pytest.raises(KeyError):
        SpellWiseWrapper(measure="Levenstein", max_distance=1)


def test_spellwise_levenshtein_distances_and_no_syn_identity():
    """test_spellwise.py:60-82: distance-1 hit, distance-2 with
    max_distance=2, and the NO_SYN singleton on miss."""
    from iamsystem_python_spark.core.fuzzy import (
        ESpellWiseAlgo,
        SpellWiseWrapper,
    )

    leven = SpellWiseWrapper(ESpellWiseAlgo.LEVENSHTEIN, max_distance=1)
    leven.add_words(words=_ivg_unigrams())
    assert ("insuffisance",) in leven.get_syns_of_word("insufisance")
    leven2 = SpellWiseWrapper(ESpellWiseAlgo.LEVENSHTEIN, max_distance=2)
    leven2.add_words(words=_ivg_unigrams())
    assert ("insuffisance",) in leven2.get_syns_of_word("insuisance")
    syns = leven.get_syns_of_word("nothing_close_to_this")
    assert syns is FuzzyAlgo.NO_SYN


def test_spellwise_min_nb_char_gate_and_warn():
    """test_spellwise.py:84-101: short words are dropped at add time
    (warn=True warns); lowering min_nb_char first makes them findable."""
    from iamsystem_python_spark.core.fuzzy import (
        ESpellWiseAlgo,
        SpellWiseWrapper,
    )

    leven = SpellWiseWrapper(ESpellWiseAlgo.LEVENSHTEIN, max_distance=1)
    leven.add_words(words=_ivg_unigrams())
    with pytest.warns(Warning):
        leven.add_words(words=["word"], warn=True)
    assert leven.get_syns_of_word("word") is FuzzyAlgo.NO_SYN
    leven.min_nb_char = -1
    leven.add_words(words=["word"])
    assert ("word",) in leven.get_syns_of_word("word")


def test_spellwise_words2ignore_and_deprecated_add():
    """test_spellwise.py:103-131 + SimpleWord2ignoreTest: ignored words
    return NO_SYN; matcher-level false positive suppressed; deprecated
    add_words_to_ignore still works with a warning."""
    from iamsystem_python_spark import SimpleWords2ignore
    from iamsystem_python_spark.core.fuzzy import (
        ESpellWiseAlgo,
        SpellWiseWrapper,
    )

    w2i = SimpleWords2ignore(words=["north"])
    assert w2i.is_word_2_ignore("north")
    assert not w2i.is_word_2_ignore("autre")

    leven = SpellWiseWrapper(
        ESpellWiseAlgo.LEVENSHTEIN, max_distance=1, words2ignore=w2i
    )
    leven.add_words(words=["north"])
    assert leven._is_a_word_to_ignore("north")
    assert leven.get_syns_of_word("north") is FuzzyAlgo.NO_SYN
    assert len(list(leven.get_syns_of_word("nouth"))) == 1

    leven2 = SpellWiseWrapper(ESpellWiseAlgo.LEVENSHTEIN, max_distance=1)
    leven2.add_words(words=_ivg_unigrams())
    with pytest.warns(Warning):
        leven2.add_words_to_ignore(words=["word"])
        leven2.add_words(words=["word"])
        assert leven2.get_syns_of_word("word") is FuzzyAlgo.NO_SYN

    # matcher-level: 'couche' ~1~ 'mouche' false positive, then ignored
    m = Matcher(tokenizer=french_tokenizer())
    m.add_keywords(["mouche"])
    lev = SpellWiseWrapper(measure=ESpellWiseAlgo.LEVENSHTEIN, max_distance=1)
    lev.add_words(words=m.get_keywords_unigrams())
    m.add_fuzzy_algo(lev)
    assert len(m.annot_text("une couche")) == 1

    m2 = Matcher(tokenizer=french_tokenizer())
    m2.add_keywords(["mouche"])
    lev2 = SpellWiseWrapper(
        measure=ESpellWiseAlgo.LEVENSHTEIN,
        max_distance=1,
        words2ignore=SimpleWords2ignore(words=["couche"]),
    )
    lev2.add_words(words=m2.get_keywords_unigrams())
    m2.add_fuzzy_algo(lev2)
    assert len(m2.annot_text("une couche")) == 0


def test_spellwise_soundex_and_editex_reference_cases():
    """test_spellwise.py:133-149: soundex catches the heavy typo, editex
    (max_distance=1) rejects it but accepts the mild one."""
    from iamsystem_python_spark.core.fuzzy import (
        ESpellWiseAlgo,
        SpellWiseWrapper,
    )

    soundex = SpellWiseWrapper(ESpellWiseAlgo.SOUNDEX, max_distance=1)
    soundex.add_words(words=_ivg_unigrams())
    assert ("insuffisance",) in soundex.get_syns_of_word(
        "inssssuffffizzzensssse"
    )
    editex = SpellWiseWrapper(ESpellWiseAlgo.EDITEX, max_distance=1)
    editex.add_words(words=_ivg_unigrams())
    assert ("insuffisance",) not in list(
        editex.get_syns_of_word("inssssuffffizzzensssse")
    )
    assert ("insuffisance",) in editex.get_syns_of_word("insufizzance")


# --- matcher surface — remaining reference tests/test_matcher.py cases -------


def test_matcher_tokenize_and_is_stopword_accent():
    """test_matcher.py:44-54: tokenize splits; is_stopword stores 'à'
    as-is (probe word lowercased, accent kept)."""
    m = Matcher(tokenizer=french_tokenizer())
    assert len(m.tokenize("insuffisance cardiaque")) == 2
    m.add_stopwords(words=["le", "à"])
    assert m.is_stopword("le")
    assert not m.is_stopword("a")
    assert m.is_stopword("à")


def test_matcher_add_keywords_strings():
    """test_matcher.py:64-78: plain-string keywords annotate."""
    m = Matcher(tokenizer=english_tokenizer())
    m.add_keywords(["acute respiratory distress syndrome", "diarrrhea"])
    m.w = 1
    annots = m.annot_text(
        "Pt c/o acute respiratory distress syndrome and diarrrhea"
    )
    assert len(annots) == 2


def test_matcher_keywords_attribute_and_unigrams():
    """test_matcher.py:80-95: keywords property length; unigrams form a
    set even when keywords are added twice."""
    m = Matcher(tokenizer=french_tokenizer())
    m.add_keywords(_termino_ivg().keywords)
    assert len(m.keywords) == 2
    m.add_keywords(_termino_ivg().keywords)
    assert m.get_keywords_unigrams() == {"insuffisance", "cardiaque", "gauche"}


def test_matcher_detect_overlap_toggle():
    """test_matcher.py:97-107: nested removal on by default, off by
    attribute."""
    m = Matcher(tokenizer=french_tokenizer())
    m.add_keywords(_termino_ivg().keywords)
    m.w = 1
    assert len(m.annot_text("insuffisance cardiaque gauche")) == 1
    m.remove_nested_annots = False
    assert len(m.annot_text("insuffisance cardiaque gauche")) == 2


def test_matcher_ent_sub_class_preserved():
    """test_matcher.py:125-136: a custom Entity subclass comes back
    verbatim from annotation.keywords with its extra attribute."""
    from iamsystem_python_spark.core.keywords import Entity

    class TermSubClass(Entity):
        def __init__(self, label, kb_id, termino):
            super().__init__(label, kb_id)
            self.termino = termino

    m = Matcher(tokenizer=french_tokenizer())
    m.add_keywords(
        [
            TermSubClass("Insuffisance Cardiaque", "I50.9", "ICD-10"),
            TermSubClass("Insuffisance Cardiaque Gauche", "I50.1", "ICD-10"),
        ]
    )
    m.w = 1
    annots = m.annot_text("insuffisance cardiaque")
    assert len(annots) == 1
    kw = annots[0].keywords[0]
    assert isinstance(kw, TermSubClass)
    assert kw.termino == "ICD-10"


def test_matcher_add_algo_matches_anything():
    """test_matcher.py:137-144: a custom fuzzy algo that always returns
    'insuffisance cardiaque' annotates any token."""

    class AnotherFuzzyAlgo(FuzzyAlgo):
        def get_syns_of_token(self, token):
            return [("insuffisance", "cardiaque")]

    m = Matcher(tokenizer=french_tokenizer())
    m.add_keywords(_termino_ivg().keywords)
    m.add_fuzzy_algo(AnotherFuzzyAlgo(name="fuzzy"))
    m.w = 1
    assert len(m.annot_text("AnythingWouldWorks")) == 1


def test_matcher_keywords_iterator():
    """test_matcher.py:198-207: an iterator of keywords is accepted."""
    from iamsystem_python_spark.core.keywords import Entity, Terminology

    t = Terminology()
    t.add(Entity("ulcères gastriques", "K25"))
    m = Matcher(tokenizer=french_tokenizer())
    m.add_keywords(keywords=iter(t))
    assert len(m.annot_text("ulcères gastriques")) == 1


def test_matcher_build_abbreviations_and_w():
    """test_matcher.py:266-292: build(abbreviations=...) detects the
    expansion; w=1 misses across 'à' but w=2 bridges it."""
    m = Matcher.build(
        keywords=_termino_ivg().keywords,
        abbreviations=[("ic", "insuffisance cardiaque")],
    )
    assert len(m.annot_text("ic gauche")) == 1
    text = "insuffisance à cardiaque à gauche"
    assert len(Matcher.build(keywords=_termino_ivg().keywords, w=1).annot_text(text)) == 0
    assert len(Matcher.build(keywords=_termino_ivg().keywords, w=2).annot_text(text)) == 1


def test_matcher_keyword_side_stopwords():
    """test_matcher.py:305-316: stopwords shrink the keyword path —
    'insuffisance de carburant' matches when cardiaque/gauche are
    stopwords (the keyword reduces to 'insuffisance')."""
    text = "insuffisance de carburant"
    assert len(Matcher.build(keywords=_termino_ivg().keywords).annot_text(text)) == 0
    m = Matcher.build(
        keywords=_termino_ivg().keywords, stopwords=["cardiaque", "gauche"]
    )
    assert len(m.annot_text(text)) == 1


def test_matcher_order_tokens_build():
    """test_matcher.py:318-345: order_tokens normalizes word order, also
    through abbreviations."""
    text = "cardiaque insuffisance à gauche"
    assert len(Matcher.build(keywords=_termino_ivg().keywords).annot_text(text)) == 0
    m = Matcher.build(keywords=_termino_ivg().keywords, order_tokens=True)
    assert len(m.annot_text(text)) == 1

    text2 = "gauche : ic"
    m2 = Matcher.build(
        keywords=["insuffisance cardiaque gauche"],
        abbreviations=[("ic", "insuffisance cardiaque")],
    )
    assert len(m2.annot_text(text2)) == 0
    m3 = Matcher.build(
        keywords=_termino_ivg().keywords,
        abbreviations=[("ic", "insuffisance cardiaque")],
        order_tokens=True,
    )
    assert len(m3.annot_text(text2)) == 1


def test_matcher_negative_build():
    """test_matcher.py:347-356: negative=True keeps only keyword
    unigrams, bridging arbitrary non-keyword words."""
    text = "insuffisance à cardiaque à gauche"
    assert len(Matcher.build(keywords=_termino_ivg().keywords).annot_text(text)) == 0
    m = Matcher.build(keywords=_termino_ivg().keywords, negative=True)
    assert len(m.annot_text(text)) == 1


def test_matcher_spellwise_build_and_param_order():
    """test_matcher.py:358-385: spellwise config catches the typo; the
    measure enum value also works as a string."""
    text = "insuffisance cardiaqu gauche"
    m = Matcher.build(
        keywords=_termino_ivg().keywords,
        spellwise=[dict(max_distance=1, measure="levenshtein")],
    )
    assert len(m.annot_text(text)) == 1


def test_matcher_no_overlap_golden_strings():
    """test_matcher.py:503-540: exact golden annotation strings for the
    NoOverlap strategy — backtrack and stopword variants."""
    m = Matcher.build(
        keywords=["cancer", "cancer de la prostate", "prostate", "de la"],
        strategy="no_overlap",
    )
    annots = m.annot_text("cancer de la prostate")
    assert [str(a) for a in annots] == [
        "cancer de la prostate\t0 21\tcancer de la prostate"
    ]
    annots = m.annot_text("cancer de la something else prostate")
    assert [str(a) for a in annots] == [
        "cancer\t0 6\tcancer",
        "de la\t7 12\tde la",
        "prostate\t28 36\tprostate",
    ]

    m2 = Matcher.build(
        keywords=["cancer", "cancer de la prostate"],
        stopwords=["de", "la"],
        strategy="no_overlap",
    )
    annots = m2.annot_text("cancer de la prostate")
    assert [str(a) for a in annots] == [
        "cancer prostate\t0 6;13 21\tcancer de la prostate"
    ]
    annots = m2.annot_text("cancer du colon")
    assert [str(a) for a in annots] == ["cancer\t0 6\tcancer"]


def test_matcher_no_overlap_end_token():
    """test_matcher.py:541-551: END_TOKEN backtrack at text end."""
    m = Matcher.build(
        keywords=["portail de la médecine instutionnelle", "médecine"],
        strategy="no_overlap",
    )
    assert len(m.annot_text("Portail de la médecine")) == 1


def test_matcher_fuzzy_with_negative_stopwords_issue_15():
    """test_matcher.py:553-571 (issue #15): abbreviations + levenshtein
    still fire under NegativeStopwords."""
    m = Matcher.build(
        keywords=["cancer du poumon"],
        stopwords=["du"],
        negative=True,
        w=1,
        abbreviations=[("k", "cancer")],
        spellwise=[dict(measure="levenshtein", max_distance=1)],
    )
    assert len(m.annot_text("k poumons")) == 1


def test_matcher_repeated_words_both_strategies():
    """test_matcher.py:573-592 (issue #18): repeated words annotate once
    each, in window and large-window strategies."""
    m = Matcher.build(keywords=["cancer"])
    assert len(m.annot_text("cancer cancer")) == 2
    m2 = Matcher.build(keywords=["cancer"], strategy="large_window")
    assert len(m2.annot_text("cancer cancer")) == 2
