"""Japanese morphological analysis (kuromoji analog).

Behavioral reference: analysis/kuromoji/src/java/org/apache/lucene/
analysis/ja/JapaneseAnalyzer.java:110-118 (createComponents:
CJKWidthCharFilter → JapaneseTokenizer(SEARCH) → JapaneseBaseFormFilter →
JapanesePartOfSpeechStopFilter → StopFilter → JapaneseKatakanaStemFilter →
LowerCaseFilter), ja/JapaneseTokenizer.java (Viterbi over the
TokenInfo/Unknown/User dictionaries, discardPunctuation=true),
ja/ViterbiNBest.java:82-106 (SEARCH-mode penalties: all-kanji tokens
longer than 2 pay (len-2)*3000, other tokens longer than 7 pay
(len-7)*1700), dict/UserMorphData.java:26 (user entries cost -100000 and
carry an explicit segmentation), ja/JapaneseBaseFormFilter.java (replace
inflected surface with its dictionary baseform),
ja/JapaneseKatakanaStemFilter.java:39-85 (all-katakana tokens of length
>= 4 drop a trailing U+30FC prolonged-sound mark).

The bundled IPADIC is DATA, not algorithm — it is not shipped. This
module carries a small built-in demo lexicon (common Japanese words with
hand-assigned costs) exercising every mechanism: dictionary prefixes,
connection costs, conjugated forms with baseforms, unknown-word character
classes (kanji single-char, grouped katakana/hiragana/alpha/numeric
runs), user-dictionary compound splits, and the SEARCH-mode penalties.
Real deployments pass ``extra_entries`` / ``user_dict`` to extend it.

Non-group unknown classes emit candidates of every length 1..LENGTH
(the IPADIC char.def KANJI length=2 two-char candidate included — the
round-3 documented simplification is closed). All four tokenizer modes
are implemented:
NORMAL, SEARCH (penalties), EXTENDED (SEARCH penalties + unknown words
emitted as unigrams, JapaneseTokenizer.Mode.EXTENDED), and n-best output
via ``nbest_cost`` (setNBestCost: every token on a lattice path within
that cost of the cheapest is emitted, off-best-path tokens stacked at
the covering best-path position — ja/ViterbiNBest.backtraceNBest).

A real MeCab-format dictionary directory (IPADIC layout) can be mounted
via ``analysis.mecab.load_mecab_dict(path, fmt="ipadic")`` and passed as
``mdict=``; the demo lexicon is the test fixture.
"""

from __future__ import annotations

import unicodedata

from .cjk import cjk_width_fold
from .lattice import (
    CharClass,
    DictEntry,
    MorphDict,
    USER_LEFT_ID,
    USER_RIGHT_ID,
    USER_WORD_COST,
    nbest_words,
    viterbi_segment,
)
from .tokenizer import Token

__all__ = [
    "japanese_analyze",
    "japanese_terms_positions",
    "parse_user_dict",
    "DEFAULT_STOP_TAGS",
    "build_ja_dict",
]

# --- lattice ids (coarse POS classes; the demo connection matrix is keyed
# on these the way IPADIC keys on its 1316 context ids) -------------------
_ID_BOS = 0
_ID_NOUN = 1
_ID_PARTICLE = 2
_ID_VERB = 3
_ID_AUX = 4
_ID_USER = USER_LEFT_ID  # 5
_ID_ADJ = 6
_ID_ADV = 7
_ID_UNK = 8

# The exact active entries of the reference's default stoptags.txt
# (analysis/kuromoji/src/resources/.../ja/stoptags.txt — JapaneseAnalyzer's
# DEFAULT_STOP_TAGS; pinned against the real file in
# tests/test_javadict_real.py). Tags match exactly, so the coarse and the
# fine tags are both listed, as in the file.
DEFAULT_STOP_TAGS = frozenset({
    "接続詞", "助詞", "助詞-格助詞", "助詞-格助詞-一般", "助詞-格助詞-引用",
    "助詞-格助詞-連語", "助詞-接続助詞", "助詞-係助詞", "助詞-副助詞",
    "助詞-間投助詞", "助詞-並立助詞", "助詞-終助詞",
    "助詞-副助詞／並立助詞／終助詞", "助詞-連体化", "助詞-副詞化",
    "助詞-特殊", "助動詞", "記号", "記号-一般", "記号-読点", "記号-句点",
    "記号-空白", "記号-括弧開", "記号-括弧閉", "その他-間投", "フィラー",
    "非言語音",
})

_POS_NOUN = "名詞-一般"
_POS_PROPER = "名詞-固有名詞"
_POS_PARTICLE = "助詞-係助詞"
_POS_CASE_PARTICLE = "助詞-格助詞"
_POS_VERB = "動詞-自立"
_POS_AUX = "助動詞"
_POS_ADJ = "形容詞-自立"
_POS_ADV = "副詞-一般"


def _n(surface: str, cost: int = 3000, pos: str = _POS_NOUN) -> DictEntry:
    return DictEntry(surface, _ID_NOUN, _ID_NOUN, cost, {"pos": pos})


def _p(surface: str, pos: str = _POS_PARTICLE) -> DictEntry:
    return DictEntry(surface, _ID_PARTICLE, _ID_PARTICLE, 200, {"pos": pos})


def _v(surface: str, base: str, cost: int = 3500) -> DictEntry:
    return DictEntry(
        surface, _ID_VERB, _ID_VERB, cost, {"pos": _POS_VERB, "base": base}
    )


def _aux(surface: str) -> DictEntry:
    return DictEntry(surface, _ID_AUX, _ID_AUX, 300, {"pos": _POS_AUX})


def _adj(surface: str, base: str) -> DictEntry:
    return DictEntry(
        surface, _ID_ADJ, _ID_ADJ, 3200, {"pos": _POS_ADJ, "base": base}
    )


_DEMO_ENTRIES: list[DictEntry] = [
    # nouns
    _n("日本", pos=_POS_PROPER), _n("経済"), _n("新聞"), _n("東京", pos=_POS_PROPER),
    _n("大学"), _n("空港"), _n("関西", pos=_POS_PROPER), _n("国際"),
    _n("学生"), _n("先生"), _n("会社"), _n("電車"), _n("仕事"), _n("時間"),
    _n("世界"), _n("言語"), _n("解析"), _n("形態"), _n("素"), _n("検索"),
    _n("技術"), _n("形態素", cost=5500), _n("水"), _n("本"), _n("猫"), _n("犬"),
    # particles
    _p("は"), _p("も"), _p("が", _POS_CASE_PARTICLE), _p("を", _POS_CASE_PARTICLE),
    _p("に", _POS_CASE_PARTICLE), _p("で", _POS_CASE_PARTICLE),
    _p("の", "助詞-連体化"), _p("と", _POS_CASE_PARTICLE),
    _p("へ", _POS_CASE_PARTICLE), _p("から", _POS_CASE_PARTICLE),
    _p("まで", "助詞-副助詞"), _p("か", "助詞-副助詞"),
    # verbs: inflected surface → baseform
    _v("行く", "行く"), _v("行った", "行く"), _v("行き", "行く"),
    _v("食べる", "食べる"), _v("食べた", "食べる"), _v("食べ", "食べる", 4200),
    _v("する", "する"), _v("した", "する"), _v("します", "する"),
    _v("読む", "読む"), _v("読んだ", "読む"),
    _v("飲む", "飲む"), _v("飲んだ", "飲む"),
    _v("ある", "ある"), _v("あった", "ある"),
    _v("いる", "いる"), _v("いた", "いる"),
    # adjectives
    _adj("新しい", "新しい"), _adj("新しく", "新しい"),
    _adj("高い", "高い"), _adj("高く", "高い"),
    # aux
    _aux("です"), _aux("でした"), _aux("だ"), _aux("た"), _aux("ます"),
]

# connection matrix (right_id of previous, left_id of next) — hand-set so
# that natural transitions are cheap and noun→noun carries a surcharge
# (dictionary compounds must beat accidental adjacency)
_CONN: dict[tuple[int, int], int] = {}


def _set(r, l, c):  # noqa: E741
    _CONN[(r, l)] = c


for _r in range(9):
    _set(_r, _ID_UNK, 2000)
    _set(_ID_UNK, _r, 2000)
_set(_ID_BOS, _ID_NOUN, 0)
_set(_ID_BOS, _ID_VERB, 400)
_set(_ID_BOS, _ID_ADJ, 300)
_set(_ID_BOS, _ID_PARTICLE, 3000)
_set(_ID_BOS, _ID_AUX, 3000)
_set(_ID_NOUN, _ID_PARTICLE, 0)
_set(_ID_NOUN, _ID_NOUN, 1800)
_set(_ID_NOUN, _ID_VERB, 800)
_set(_ID_NOUN, _ID_AUX, 400)
_set(_ID_NOUN, _ID_BOS, 0)  # noun before EOS
_set(_ID_PARTICLE, _ID_NOUN, 0)
_set(_ID_PARTICLE, _ID_VERB, 200)
_set(_ID_PARTICLE, _ID_ADJ, 300)
_set(_ID_PARTICLE, _ID_BOS, 500)
_set(_ID_VERB, _ID_AUX, 100)
_set(_ID_VERB, _ID_PARTICLE, 400)
_set(_ID_VERB, _ID_BOS, 100)
_set(_ID_VERB, _ID_NOUN, 1200)
_set(_ID_AUX, _ID_BOS, 0)
_set(_ID_AUX, _ID_PARTICLE, 600)
_set(_ID_ADJ, _ID_NOUN, 500)
_set(_ID_ADJ, _ID_BOS, 200)
_set(_ID_ADJ, _ID_AUX, 300)
for _r in (_ID_NOUN, _ID_PARTICLE, _ID_VERB, _ID_AUX, _ID_ADJ):
    _set(_r, _ID_USER, 0)
    _set(_ID_USER, _r, 0)
_set(_ID_BOS, _ID_USER, 0)
_set(_ID_USER, _ID_BOS, 0)

_UNK_POS = "名詞-未知"

# char.def analog: (invoke, group, cap, cost)
_CLASSES = [
    CharClass("KANJI", False, False, 2, _ID_UNK, _ID_UNK, 11000, _UNK_POS),
    CharClass("KATAKANA", True, True, 512, _ID_UNK, _ID_UNK, 9000, "名詞-一般"),
    CharClass("HIRAGANA", False, True, 512, _ID_UNK, _ID_UNK, 12000, _UNK_POS),
    CharClass("ALPHA", True, True, 512, _ID_UNK, _ID_UNK, 9000, "名詞-一般"),
    CharClass("NUMERIC", True, True, 512, _ID_UNK, _ID_UNK, 9000, "名詞-数"),
    CharClass("DEFAULT", False, True, 512, _ID_UNK, _ID_UNK, 12000, _UNK_POS),
]

_PROLONGED = "ー"  # ー


def _classify(ch: str) -> str:
    o = ord(ch)
    if 0x4E00 <= o <= 0x9FFF or ch == "々" or 0x3400 <= o <= 0x4DBF:
        return "KANJI"
    if 0x30A0 <= o <= 0x30FF:
        return "KATAKANA"
    if 0x3040 <= o <= 0x309F:
        return "HIRAGANA"
    if ch.isascii() and ch.isalpha():
        return "ALPHA"
    if ch.isdigit():
        return "NUMERIC"
    return "DEFAULT"


def build_ja_dict(extra_entries: list[DictEntry] | None = None) -> MorphDict:
    entries = list(_DEMO_ENTRIES)
    if extra_entries:
        entries.extend(extra_entries)
    return MorphDict(entries, _CONN, _CLASSES, _classify, default_conn=1000)


_DEMO_DICT = build_ja_dict()


def parse_user_dict(lines) -> MorphDict:
    """dict/UserDictionary.java CSV format:
    ``surface,seg1 seg2 ...,reading1 reading2 ...,pos`` — user entries
    segment exactly as written and always win (WORD_COST -100000)."""
    entries = []
    for raw in lines:
        line = raw.strip()
        if not line or line.startswith("#"):
            continue
        parts = [p.strip() for p in line.split(",")]
        surface = parts[0]
        segs = parts[1].split() if len(parts) > 1 and parts[1] else [surface]
        readings = parts[2].split() if len(parts) > 2 and parts[2] else []
        pos = parts[3] if len(parts) > 3 else "カスタム名詞"
        if "".join(segs) != surface:
            raise ValueError(f"user entry segmentation mismatch: {line!r}")
        seg_attrs = tuple(
            (s, {"pos": pos, "reading": readings[i] if i < len(readings) else None})
            for i, s in enumerate(segs)
        )
        entries.append(
            DictEntry(
                surface, USER_LEFT_ID, USER_RIGHT_ID, USER_WORD_COST,
                {"pos": pos}, seg_attrs,
            )
        )
    return MorphDict(entries, {}, _CLASSES, _classify, default_conn=0)


def _search_penalty(chunk: str):
    # ja/ViterbiNBest.java:82-106
    def penalty(pos: int, length: int) -> int:
        if length > 2:
            if all(_classify(c) == "KANJI" for c in chunk[pos : pos + length]):
                return (length - 2) * 3000
            if length > 7:
                return (length - 7) * 1700
        return 0

    return penalty


def _is_separator(ch: str) -> bool:
    if ch.isspace():
        return True
    cat = unicodedata.category(ch)
    return cat.startswith("P") or cat in ("So", "Sm", "Sc", "Sk")


def japanese_analyze(
    text: str,
    stopwords: frozenset[str] | None = None,
    mode: str = "search",
    user_dict: MorphDict | None = None,
    stop_tags: frozenset[str] = DEFAULT_STOP_TAGS,
    mdict: MorphDict | None = None,
    max_token_length: int = 255,
    nbest_cost: int = 0,
) -> list[Token]:
    """Full JapaneseAnalyzer chain over one document. ``mode`` is
    ``"normal"`` / ``"search"`` / ``"extended"`` (EXTENDED = SEARCH
    penalties + unknown words emitted as character unigrams,
    JapaneseTokenizer.Mode.EXTENDED). ``nbest_cost > 0`` additionally
    emits every token on a lattice path within that cost of the best
    (setNBestCost), stacked at the covering best-path position. Dropped
    tokens (POS-stopped / stopworded) advance the position (StopFilter
    gap semantics, consistent with every other chain in this package)."""
    if mode not in ("normal", "search", "extended"):
        raise ValueError(f"unknown tokenizer mode {mode!r}")
    if not text:
        return []
    d = mdict or _DEMO_DICT
    folded = cjk_width_fold(text)
    out: list[Token] = []
    pos = 0
    i = 0
    n = len(folded)
    while i < n:
        if _is_separator(folded[i]):
            i += 1  # discardPunctuation=true: dropped, no position gap
            continue
        j = i
        while j < n and not _is_separator(folded[j]):
            j += 1
        chunk = folded[i:j]
        pen = _search_penalty(chunk) if mode in ("search", "extended") else None
        segs = viterbi_segment(chunk, d, user=user_dict, penalty=pen)
        extras: list = []
        if nbest_cost > 0:
            extras = [
                s for (s, on_best) in nbest_words(
                    chunk, d, nbest_cost, user=user_dict, penalty=pen
                )
                if not on_best
            ]
        # user-dictionary entries expand into their recorded segmentation;
        # EXTENDED splits unknown words into unigrams
        flat: list[tuple[int, int, str, str, str | None]] = []
        for s in segs:
            if s.entry is not None and s.entry.segmentation is not None:
                off = s.start
                for surf, attrs in s.entry.segmentation:
                    flat.append(
                        (off, off + len(surf), surf, attrs.get("pos", s.pos), None)
                    )
                    off += len(surf)
            elif s.entry is None and mode == "extended":
                for k in range(s.start, s.end):
                    flat.append((k, k + 1, chunk[k], s.pos, None))
            else:
                base = s.entry.attrs.get("base") if s.entry is not None else None
                flat.append((s.start, s.end, s.surface, s.pos, base))
        def _filter(term: str, pos_tag: str) -> str | None:
            """POS-stop → katakana stem → lowercase → stopword; None =
            dropped (the caller decides whether the position advances).
            The POS stop is an EXACT full-tag match, like the
            reference's JapanesePartOfSpeechStopFilter
            (stopTags.contains(partOfSpeech)) — the default tag set
            enumerates each sub-tag explicitly, so 記号-アルファベット
            style tags NOT in the set survive even though their coarse
            prefix is listed."""
            if pos_tag in stop_tags:
                return None
            # JapaneseKatakanaStemFilter: all-katakana len>=4, strip ー
            if (
                len(term) >= 4
                and term[-1] == _PROLONGED
                and all(0x30A0 <= ord(c) <= 0x30FF for c in term)
            ):
                term = term[:-1]
            term = term.lower()
            if stopwords and term in stopwords:
                return None
            if len(term) > max_token_length:
                return None
            return term

        spans: list[tuple[int, int, int]] = []  # (start, end, position)
        for start, end, surface, pos_tag, base in flat:
            spans.append((start, end, pos))
            term = _filter(base if base is not None else surface, pos_tag)
            if term is not None:
                out.append(Token(term, pos, i + start, i + end, pos_tag))
            pos += 1
        # n-best extras stack at the covering best-path position
        # (posIncrement 0 — this package's Token has no posLength)
        for s in extras:
            p = next(
                (pp for (st, en, pp) in spans if st <= s.start < en), None
            )
            if p is None:
                continue
            base = s.entry.attrs.get("base") if s.entry is not None else None
            term = _filter(base if base is not None else s.surface, s.pos)
            if term is not None:
                out.append(Token(term, p, i + s.start, i + s.end, s.pos))
        i = j
    return out


def japanese_terms_positions(text: str, stopwords: frozenset[str] | None = None):
    toks = japanese_analyze(text, stopwords)
    return [t.term for t in toks], [t.position for t in toks]
