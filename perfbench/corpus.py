"""Seeded workload generator owned by the benchmark.

Everything here is derived from ``random.Random(seed)`` and plain Python:
no import from the package under test, so a change to the program cannot
move the inputs it is measured on.

A corpus is a medical-web crawl in the ``pages(url, warc_ts, html, text,
lang)`` shape of the pipeline's input contract:

- a dictionary of thousands of drugs (katakana) and symptoms (kanji
  compounds), with Zipf-distributed mentions and one hot drug in about
  30% of pages;
- near-miss spellings that are in the tagger's dictionary but not in the
  entity dimension, so they resolve only through fuzzy matching, plus a
  few unresolvable terms that end on the '' sentinel;
- half-width drug spellings that ``han_to_zen`` folds back;
- alias chains between symptom canonicals (connected components);
- input edges at fixed shares: null text, empty text with html, html-only
  pages, pages with a sentence over 512 chars, and non-ja pages;
- a page-unique token (case number and age) in every content sentence and
  shared boilerplate sentences, so the duplicate-sentence share is
  moderate and stated, not 99%.

Shares are exact counts assigned to a shuffled page order, so two seeds
differ in which pages carry an edge, not in how many do.
"""

from __future__ import annotations

import datetime as dt
import random
from bisect import bisect_left
from itertools import accumulate

N_DRUGS = 1500
N_SYMPTOMS = 1200
N_NEAR_DRUGS = 30
N_NEAR_SYMPTOMS = 30
N_ALIAS_CHAINS = 40
ZIPF_S = 1.1

SHARES = {
    "null_text": 0.02,  # text and html both null: dropped
    "empty_text": 0.01,  # text '' with html: html→text fallback
    "html_only": 0.04,  # text null, html present: html→text fallback
    "long_sentence": 0.02,  # one sentence over 512 chars: dropped
    "non_ja": 0.10,  # lang filter drops the page
    "drug_only": 0.06,  # drugs, no symptoms: "No Symptoms" triples
}
HOT_SHARE = 0.30
NEAR_MISS_RATE = 0.06  # per symptom / drug slot
HALFWIDTH_RATE = 0.04  # per drug slot, when the drug has a half-width form

# katakana syllables with an exact half-width spelling (the table below)
_KANA = (
    "アイウエオカキクケコサシスセソタチツテトナニヌネノハヒフヘホ"
    "マミムメモヤユヨラリルレロワン"
    "ガギグゲゴザジズゼゾダデドバビブベボパピプペポ"
)
_FW = "ヲァィゥェォャュョッーアイウエオカキクケコサシスセソタチツテトナニヌネノハヒフヘホマミムメモヤユヨラリルレロワン"
_HW = "ｦｧｨｩｪｫｬｭｮｯｰｱｲｳｴｵｶｷｸｹｺｻｼｽｾｿﾀﾁﾂﾃﾄﾅﾆﾇﾈﾉﾊﾋﾌﾍﾎﾏﾐﾑﾒﾓﾔﾕﾖﾗﾘﾙﾚﾛﾜﾝ"
_HALF = dict(zip(_FW, _HW))
for _full, _base in zip("ガギグゲゴザジズゼゾダデドバビブベボ", "カキクケコサシスセソタテトハヒフヘホ"):
    _HALF[_full] = _HALF[_base] + "ﾞ"
for _full, _base in zip("パピプペポ", "ハヒフヘホ"):
    _HALF[_full] = _HALF[_base] + "ﾟ"
_SUFFIXES = ["ン", "ール", "ジン", "ロン", "ミド", "チン", "ゾール", "マブ", "リル", "キサン"]

_PARTS = list("頭腹胸腰背喉目耳鼻歯肩膝手足首肝腎胃腸肺皮心骨筋関血舌唇顔")
_CONDS = [
    "痛", "炎", "腫", "痒", "痺", "出血", "不全", "障害", "異常", "硬化",
    "萎縮", "麻痺", "違和感", "発赤", "浮腫", "潰瘍", "結石", "肥大",
]
_PREFIXES = ["", "急性", "慢性", "軽度", "重度", "両側", "一過性", "再発性", "左", "右"]

# characters of dictionary surfaces, for the model workload's checkpoint
DRUG_CHARS = set(_KANA + "".join(_SUFFIXES))
SYMPTOM_CHARS = set("".join(_PARTS + _CONDS + _PREFIXES) + "性感部")

_CONTENT = [
    "症例{case}：{age}歳の患者は{drug}を服用後、{sym}が出現した。",
    "症例{case}では{drug}の投与により{sym}を認めた。",
    "{age}歳、{sym}に対して{drug}を処方した（症例{case}）。",
    "症例{case}：{drug}内服中に{sym}および{sym2}が見られた。",
    "{age}歳の患者は{drug}と{drug2}を併用し、{sym}を訴えた（症例{case}）。",
    "症例{case}：{drug}を中止したところ{sym}は改善した。",
]
_DRUG_ONLY = [
    "症例{case}：{age}歳の患者に{drug}を処方した。",
    "{drug}の添付文書を確認した（症例{case}）。",
]
_BOILERPLATE = [
    "本サイトの情報は医療上の助言ではありません。",
    "詳しくは医師または薬剤師にご相談ください。",
    "関連記事もあわせてご覧ください。",
    "この記事は編集部が作成しました。",
    "掲載内容は予告なく変更される場合があります。",
    "記事の無断転載を禁じます。",
    "お問い合わせはフォームからお願いします。",
    "最終更新日は記事末尾に記載しています。",
]
_LONG_FILLER = "長期にわたる経過観察の記録として各種検査値の推移と生活習慣の変化を詳細に記載し"


def _zipf_cum(n: int) -> list[float]:
    return list(accumulate(1.0 / (r + 1) ** ZIPF_S for r in range(n)))


def _pick(rng: random.Random, items: list[str], cum: list[float]) -> str:
    return items[bisect_left(cum, rng.random() * cum[-1])]


def to_halfwidth(word: str) -> str | None:
    """Half-width katakana spelling of ``word``, or None if a char has none."""
    out = []
    for ch in word:
        if ch not in _HALF:
            return None
        out.append(_HALF[ch])
    return "".join(out)


def _vocab(rng: random.Random) -> tuple[list[str], list[str]]:
    drugs: set[str] = set()
    while len(drugs) < N_DRUGS:
        stem = "".join(rng.choice(_KANA) for _ in range(rng.randint(2, 4)))
        drugs.add(stem + rng.choice(_SUFFIXES))
    combos = [p + a + c for p in _PREFIXES for a in _PARTS for c in _CONDS]
    symptoms = rng.sample(sorted(set(combos)), N_SYMPTOMS)
    drug_list = sorted(drugs)
    rng.shuffle(drug_list)  # rank order for the Zipf draw
    return drug_list, symptoms


def _near_miss(rng: random.Random, word: str, taken: set[str], pool: str) -> str:
    """One inserted char: indel ratio ≥ 2·n/(2n+1) > 70 for n ≥ 2."""
    while True:
        i = rng.randint(1, len(word) - 1)
        cand = word[:i] + rng.choice(pool) + word[i:]
        if cand not in taken:
            return cand


def generate(seed: int, n_pages: int) -> dict:
    """Corpus, dimension, tagger dictionary and alias edges for one seed."""
    rng = random.Random(seed)
    drugs, symptoms = _vocab(rng)
    hot = drugs[0]
    dim = []
    for i, d in enumerate(sorted(drugs)):
        dim.append(_dim_row(f"DRG{i:05d}", d, "drug", "ATC"))
    for i, s in enumerate(sorted(symptoms)):
        dim.append(_dim_row(f"SYM{i:05d}", s, "symptom", "ICD"))

    taken = set(drugs) | set(symptoms)
    near_drugs = {}
    for d in rng.sample(drugs[1:], N_NEAR_DRUGS):
        near_drugs[d] = _near_miss(rng, d, taken, _KANA)
        taken.add(near_drugs[d])
    near_syms = {}
    for s in rng.sample([s for s in symptoms if len(s) >= 3], N_NEAR_SYMPTOMS):
        near_syms[s] = _near_miss(rng, s, taken, "性症感部")
        taken.add(near_syms[s])
    # in the tagger dictionary, too far from every dimension surface: sentinel
    sentinels = ["ゾ" * 2 + "ヂ", "ヅヂ" * 2, "鬱々", "疼々疼"]

    term_types = {d: "drug" for d in drugs}
    term_types.update({s: "symptom" for s in symptoms})
    term_types.update({v: "drug" for v in near_drugs.values()})
    term_types.update({v: "symptom" for v in near_syms.values()})
    term_types.update({sentinels[0]: "drug", sentinels[1]: "drug"})
    term_types.update({sentinels[2]: "symptom", sentinels[3]: "symptom"})

    alias_edges = []
    chain_pool = rng.sample(symptoms, 3 * N_ALIAS_CHAINS)
    for k in range(N_ALIAS_CHAINS):
        a, b, c = chain_pool[3 * k : 3 * k + 3]
        alias_edges += [{"src": a, "dst": b}, {"src": b, "dst": c}]

    drug_cum, sym_cum = _zipf_cum(len(drugs)), _zipf_cum(len(symptoms))
    halfwidth = {d: h for d in drugs if (h := to_halfwidth(d)) is not None}

    near_drug_terms = sorted(near_drugs.values()) + sentinels[:2]
    near_sym_terms = sorted(near_syms.values()) + sentinels[2:]

    def drug_slot() -> str:
        if rng.random() < NEAR_MISS_RATE:
            return rng.choice(near_drug_terms)
        d = _pick(rng, drugs, drug_cum)
        if d in halfwidth and rng.random() < HALFWIDTH_RATE:
            return halfwidth[d]
        return d

    def sym_slot() -> str:
        if rng.random() < NEAR_MISS_RATE:
            return rng.choice(near_sym_terms)
        return _pick(rng, symptoms, sym_cum)

    # exact share counts on a shuffled page order
    order = list(range(n_pages))
    rng.shuffle(order)
    edge_of: dict[int, str] = {}
    pos = 0
    for name, share in SHARES.items():
        for i in order[pos : pos + round(share * n_pages)]:
            edge_of[i] = name
        pos += round(share * n_pages)
    rng.shuffle(order)
    hot_pages = set(order[: round(HOT_SHARE * n_pages)])

    base_ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    pages = []
    content_sents: list[str] = []
    for i in range(n_pages):
        edge = edge_of.get(i)
        sents = []
        n_content = rng.randint(1, 6)
        templates = _DRUG_ONLY if edge == "drug_only" else _CONTENT
        for j in range(n_content):
            drug = hot if (j == 0 and i in hot_pages) else drug_slot()
            sents.append(
                rng.choice(templates).format(
                    case=f"{i:06d}-{j}",
                    age=rng.randint(18, 95),
                    drug=drug,
                    drug2=drug_slot(),
                    sym=sym_slot(),
                    sym2=sym_slot(),
                )
            )
        for b in rng.sample(_BOILERPLATE, rng.randint(1, 3)):
            sents.insert(rng.randint(0, len(sents)), b)
        if edge == "long_sentence":
            filler = _LONG_FILLER * (540 // len(_LONG_FILLER) + 1)
            sents.insert(1, filler[: rng.randint(520, 600)] + drug_slot() + "を継続した。")
        text = "".join(sents)
        html = ("<html><head><script>var x=1;</script></head><body>"
                + "".join(f"<p>{s}</p>" for s in sents)
                + "</body></html>").encode("utf-8")
        lang = "ja"
        if edge == "null_text":
            text, html = None, None
        elif edge == "empty_text":
            text = ""
        elif edge == "html_only":
            text = None
        elif edge == "non_ja":
            lang = rng.choice(["en", "zh"])
        if text is not None or html is not None:
            if lang == "ja":
                content_sents += sents
        pages.append(
            {
                "url": f"https://med.example/{seed}/{i:07d}",
                "warc_ts": base_ts + dt.timedelta(seconds=37 * i),
                "html": html,
                "text": text,
                "lang": lang,
            }
        )
    return {
        "pages": pages,
        "dim": dim,
        "term_types": term_types,
        "alias_edges": alias_edges,
        "hot_drug": hot,
        "shares": {
            **{k: round(v * n_pages) / n_pages for k, v in SHARES.items()},
            "hot_drug": len(hot_pages) / n_pages,
        },
        "duplicate_sentence_share": 1 - len(set(content_sents)) / max(1, len(content_sents)),
        "dictionary": {
            "drugs": len(drugs),
            "symptoms": len(symptoms),
            "near_miss": len(near_drugs) + len(near_syms),
            "sentinel_terms": len(sentinels),
            "alias_edges": len(alias_edges),
        },
    }


def _dim_row(eid: str, surface: str, kind: str, code_prefix: str) -> dict:
    return {
        "entity_id": eid,
        "surface": surface,
        "canonical": surface,
        "code": f"{code_prefix}{eid[3:]}",
        "kind": kind,
        "human_check": None,
    }
