#!/usr/bin/env python3
"""CPython twin of the FLAGSHIP pipeline (dev-time only; output committed).

Independently recomputes q_pipeline and q_pipeline_dedup end-to-end:
  DataGen.pageFor (java.util.Random LCG twin) → langid + perplexity (shared
  committed model artifacts, twin_lib scoring) → Quality.metricsNaive twin →
  Pipeline keep/drop chain → Scrub.scrubDict twin (9-pattern union regex,
  per-document numbered aliases) → the exact output projection.

Every stage is an independent reimplementation of the Scala semantics; a
mismatch on any of the 2000 generated pages turns the driver's oracle row
red. Usage: python3 tools/gen_expected_pipeline.py [outDir]
"""
import re, math, os, sys
import pyarrow as pa, pyarrow.parquet as pq
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from twin_lib import (JavaRandom, splitmix64, java_lower, is_java_ws,
                      is_letter, is_digit, is_cjk_script, read_ppl,
                      perplexity, read_langid, classify,
                      metrics, decide)

OUT = sys.argv[1] if len(sys.argv) > 1 else "src/test/resources/golden/expected_sf0.01"
RES = "src/main/resources/graft"
os.makedirs(OUT, exist_ok=True)

# ---- DataGen twin (spark/DataGen.scala) -------------------------------------
LANGS = [("en", 0.50), ("es", 0.10), ("de", 0.10), ("fr", 0.10),
         ("ja", 0.10), ("zh", 0.10)]

POOL = {
    "en": ["The quick brown fox jumps over the lazy dog near the river bank.",
           "Most readers scan the first page of a report and then move on to other work.",
           "Our support team answers questions about orders within one business day.",
           "The library opens at nine in the morning and closes at eight in the evening.",
           "A small group of people walked along the quiet street in the early morning.",
           "Data systems read rows from tables, filter them, and write the results back."],
    "es": ["El zorro marron salta sobre el perro perezoso cerca de la orilla del rio.",
           "La mayoria de los lectores revisan la primera pagina y luego siguen con su trabajo.",
           "Nuestro equipo de soporte responde preguntas sobre pedidos cada dia.",
           "La biblioteca abre a las nueve de la manana y cierra a las ocho de la tarde."],
    "de": ["Der braune Fuchs springt uber den faulen Hund am Ufer des Flusses.",
           "Die meisten Leser lesen die erste Seite und wenden sich dann anderer Arbeit zu.",
           "Unser Team beantwortet Fragen zu Bestellungen innerhalb eines Tages.",
           "Die Bibliothek offnet um neun Uhr morgens und schliesst um acht Uhr abends."],
    "fr": ["Le renard brun saute par dessus le chien paresseux pres de la riviere.",
           "La plupart des lecteurs lisent la premiere page puis passent a autre chose.",
           "Notre equipe repond aux questions sur les commandes chaque jour.",
           "La bibliotheque ouvre a neuf heures du matin et ferme a huit heures du soir."],
    "ja": ["速い茶色の狐はのろまな犬を飛び越えます そして静かな川の近くを歩きます",
           "多くの読者は最初のページを読んでから他の仕事に移ります",
           "サポートチームは注文に関する質問に毎日答えています",
           "図書館は朝九時に開いて夜八時に閉まります"],
    "zh": ["敏捷的棕色狐狸跳过了懒惰的狗 然后沿着安静的河边走",
           "大多数读者看完第一页 就去做别的工作了",
           "我们的支持团队每天回答关于订单的问题",
           "图书馆早上九点开门 晚上八点关门"],
}

FILLERS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
           "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron",
           "pi", "rho", "sigma", "tau", "upsilon"]
RARE = ["zyx", "qwv", "plk", "mnb", "trd", "gfs", "hjk", "wqe"]
GIB = "#$%&*+=~^|@!?<>{}[]()abcdefgh0123456789"

PII_SNIPPETS = [
    lambda r: f"Contact taro.yamada+{r % 97}@example.co.jp for details.",
    lambda r: f"Call 03-{1000 + r % 9000:04d}-{1000 + r % 9000:04d} today.",
    lambda r: f"Intl line +81-3-{1000 + r % 9000:04d}-{100 + r % 900:03d}.",
    lambda r: f"Invoice total ¥{1 + r % 9},{r % 1000:03d},{r % 1000:03d} paid.",
    lambda r: f"Budget JPY {1 + r % 9},{r % 1000:03d} remains.",
    lambda r: f"Ticket ACC-{10000 + r % 90000} and USR-{1000 + r % 9000} closed.",
    lambda r: f"Ship to 〒{100 + r % 900:03d}-{1000 + r % 9000:04d} Japan.",
    lambda r: "担当は山田太郎さんと田中 花子様です。",
    lambda r: "住所は東京都新宿区西 で受付します。",
]

def jabs(x):  # Java Math.abs on Long (MinValue stays negative)
    return x if x >= 0 or x == -(1 << 63) else -x

def jmod(a, b):  # Java % (sign of dividend)
    r = abs(a) % b
    return r if a >= 0 else -r

def page_for(doc_id, num_hosts=1000):
    rnd = JavaRandom(splitmix64(doc_id))
    host = min(num_hosts - 1,
               int(math.floor(math.exp(rnd.next_double() * math.log(float(num_hosts))))) - 1)
    lang_roll = rnd.next_double()
    acc = 0.0
    lang = "en"
    for l, w in LANGS:
        acc += w
        if lang_roll < acc:
            lang = l
            break
    roll = rnd.next_double()
    pool = POOL[lang]
    n_sent = 3 + rnd.next_int(10)
    body = []
    if roll < 0.70:
        for i in range(n_sent):
            body.append(pool[rnd.next_int(len(pool))])
            body.append(' ')
            body.append(FILLERS[i % len(FILLERS)])
            body.append('\n')
        if rnd.next_double() < 0.4:
            n = 1 + rnd.next_int(3)
            for _ in range(n):
                snip = PII_SNIPPETS[rnd.next_int(len(PII_SNIPPETS))]
                body.append(snip(jabs(rnd.next_long())))
                body.append('\n')
        text = ''.join(body)
    elif roll < 0.78:
        cnt = 300 + rnd.next_int(300)
        for i in range(cnt):
            body.append(GIB[rnd.next_int(len(GIB))])
            if i % 40 == 39:
                body.append('\n')
        text = ''.join(body)
    elif roll < 0.85:
        line = pool[rnd.next_int(len(pool))]
        for _ in range(12):
            body.append(line)
            body.append('\n')
        body.append(pool[rnd.next_int(len(pool))])
        body.append('\n')
        text = ''.join(body)
    elif roll < 0.90:
        for _ in range(80):
            body.append(RARE[rnd.next_int(len(RARE))])
            body.append(' ')
        text = ''.join(body)
    elif roll < 0.93:
        text = pool[rnd.next_int(len(pool))][:20]
    else:
        for i in range(n_sent + 6):
            body.append(pool[rnd.next_int(len(pool))])
            body.append(' ')
            body.append(FILLERS[i % len(FILLERS)])
            body.append('\n')
        text = ''.join(body)
    claimed = LANGS[rnd.next_int(len(LANGS))][0] if rnd.next_double() < 0.05 else lang
    return (f"https://host-{host}.example/p/{doc_id}",
            1704067200000 + doc_id * 1000, text, claimed)

# ---- Quality.metrics/decide twins now shared in twin_lib ----
# ---- Scrub.scrubDict twin (FullOrder 9-pattern union, numbered aliases) ----
SEP = r'[-．.・ー—－]'
FULL_ORDER = [
    ("email", "EMAIL", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("phone", "PHONE", r"(?:0\d{1,4}-\d{1,4}-\d{3,4})|(?:\+81-\d{1,4}-\d{1,4}-\d{3,4})"),
    ("amount", "AMOUNT", r"(?:¥|JPY)?\s?\d{1,3}(?:,\d{3})+"),
    ("id", "ID", r"\b(?:ACC|USR|ORD)-\d{4,6}\b"),
    ("address", "ADDRESS", r'(?:〒\s*)?(?<!\d)\d{3}[ -‐−–—－]?\d{4}(?![-\d])'),
    ("address", "ADDRESS", rf'[一-龠]{{1,10}}[都道府県][一-龠]{{1,15}}[市区町村][一-龠0-9{SEP}\s]{{0,40}}'),
    ("name", "PERSON", r'[一-龠]{2,4}\s*[一-龠]{1,3}(?:さん|様|氏|先生|君|ちゃん)?'),
    ("name", "PERSON", r'[ぁ-ゔ]{3,8}(?:さん|様|氏|先生|君|ちゃん)?'),
    ("name", "PERSON", r'[ァ-ヶ]{3,8}(?:さん|様|氏|先生|君|ちゃん)?'),
]
UNION = re.compile("|".join(f"({p})" for _, _, p in FULL_ORDER))

def scrub_dict(text):
    dct = {}
    counters = {}
    def repl(m):
        idx = next(i for i, g in enumerate(m.groups(), start=1) if g is not None)
        _, tag, _ = FULL_ORDER[idx - 1]
        key = (tag, m.group(0))
        if key not in dct:
            counters[tag] = counters.get(tag, 0) + 1
            dct[key] = f"<{tag}_{counters[tag]}>"
        return dct[key]
    return UNION.sub(repl, text)

# ---- Fingerprint twin (TextDedup.fingerprint) -------------------------------
def fingerprint(text):
    h = 1125899906842597
    last_space = True
    for ch in text:
        c0 = java_lower(ch)
        if not is_java_ws(c0):
            h = (h * 31 + ord(c0)) & ((1 << 64) - 1)
            last_space = False
        elif not last_space:
            h = (h * 31 + 32) & ((1 << 64) - 1)
            last_space = True
    return h

# ---- run the twin pipeline ---------------------------------------------------
LID = read_langid(f"{RES}/langid.bin")
PPL = read_ppl(f"{RES}/ppl_en.lm")

def score(url, warc_ms, text, claimed):
    lang_id, conf = classify(LID, text)
    ppl = perplexity(PPL, text)
    m = metrics(text)
    keep, reason = decide(m, ppl)
    # quantized model outputs (1-ulp exp() divergence JVM vs libm otherwise)
    return dict(url=url, lang_claimed=claimed, lang_id=lang_id,
                conf_milli=math.floor(conf * 1000),
                ppl_centi=math.floor(ppl * 100), keep=keep, drop_reason=reason,
                scrubbed_text=scrub_dict(text), warc_ms=warc_ms)

pages = [page_for(i) for i in range(2000)]
rows = [score(*p) for p in pages]

def write(path, rs):
    pq.write_table(pa.table({
        "url": pa.array([r["url"] for r in rs], pa.string()),
        "lang_claimed": pa.array([r["lang_claimed"] for r in rs], pa.string()),
        "lang_id": pa.array([r["lang_id"] for r in rs], pa.string()),
        "conf_milli": pa.array([r["conf_milli"] for r in rs], pa.int64()),
        "ppl_centi": pa.array([r["ppl_centi"] for r in rs], pa.int64()),
        "keep": pa.array([r["keep"] for r in rs], pa.bool_()),
        "drop_reason": pa.array([r["drop_reason"] for r in rs], pa.string()),
        "scrubbed_text": pa.array([r["scrubbed_text"] for r in rs], pa.string()),
        "warc_ms": pa.array([r["warc_ms"] for r in rs], pa.int64()),
    }), path)

write(f"{OUT}/pipeline.parquet", rows)

# ---- ENHANCED variant: merged model-NER scrub (Scrub.scrubWithMode-with-model-hits twin)
import gzip
HF2PII = {"PER": "name", "ORG": "org", "LOC": "address", "MISC": "misc"}
DICT_TAG = {"email": "EMAIL", "phone": "PHONE", "amount": "AMOUNT", "id": "ID",
            "address": "ADDRESS", "name": "PERSON", "org": "ORG", "misc": "MISC"}
with gzip.open(f"{RES}/ner_gazetteer.tsv.gz", "rt", encoding="utf-8") as f:
    ENTRIES = [(l.split("\t", 2)[0], l.split("\t", 2)[2].rstrip("\n"))
               for l in f if l.strip()]

def model_hits_of(text):
    """NerSlot.infer twin: all occurrences of every gazetteer entry,
    sorted by (start, end, reason, text)."""
    hits = []
    for label, e in ENTRIES:
        i = text.find(e)
        while i >= 0:
            hits.append((HF2PII.get(label, "misc"), e, i, i + len(e),
                         f"model:{label}"))
            i = text.find(e, i + 1)
    hits.sort(key=lambda h: (h[2], h[3], h[4], h[1]))
    return hits

def scrub_dict_enh(text):
    """dict-mode merged scrub: regex spans FIRST (stable (start,-len) sort
    means the rule hit wins identical spans), greedy span dedup, one splice."""
    spans = []
    for m in UNION.finditer(text):
        idx = next(i for i, g in enumerate(m.groups(), start=1) if g is not None)
        kind = FULL_ORDER[idx - 1][0]
        spans.append((kind, m.group(0), m.start(), m.end()))
    spans += [(k, t, s, e) for k, t, s, e, _ in model_hits_of(text)]
    spans.sort(key=lambda h: (h[2], -(h[3] - h[2])))
    out = []
    last = 0
    aliases = {}
    per_tag = {}
    last_end = -1
    for kind, orig, s, e in spans:
        if s < last_end:
            continue
        last_end = e
        tag = DICT_TAG.get(kind, "PII")
        key = (tag, orig)
        if key not in aliases:
            per_tag[tag] = per_tag.get(tag, 0) + 1
            aliases[key] = f"<{tag}_{per_tag[tag]}>"
        out.append(text[last:s])
        out.append(aliases[key])
        last = e
    out.append(text[last:])
    return "".join(out)

# reuse the already-scored rows — only the scrub differs at ENHANCED
# (the keep/drop chain is identical); rescoring would double the twin's
# cost and create a second copy that could drift
rows_e = [dict(r, scrubbed_text=scrub_dict_enh(p[2]))
          for r, p in zip(rows, pages)]
write(f"{OUT}/pipeline_enhanced.parquet", rows_e)

# dedup variant: representative = min url per fingerprint(text)
by_fp = {}
for p in pages:
    by_fp.setdefault(fingerprint(p[2]), []).append(p)
survivors = []
for fp, ps in by_fp.items():
    rep_url = min(p[0] for p in ps)
    survivors.extend(p for p in ps if p[0] == rep_url)
rows_d = [score(*p) for p in survivors]
write(f"{OUT}/pipeline_dedup.parquet", rows_d)
print(f"wrote {OUT}/pipeline.parquet ({len(rows)}), "
      f"pipeline_dedup.parquet ({len(rows_d)})")

# ---------------------------------------------------------------------------
# q_curation expected: composed curation survivor set (Curation.curate twin).
# Corpus = pages(2000) + exact copies (id%100==7 under https://copy.example)
# + near copies (id%100==13, text + "\nextra tail line"); benchmark = RAW
# text of ids with id%250==3. Stages mirror Curation.curate exactly:
# keep filter -> exact-collapse star arcs + MinHash bucket-star arcs
# (shingleK=5, 126 hashes, 9 bands) over scrubbed_text -> connected
# components (min-url label) -> min-url representative -> 13-gram
# decontamination drop. Regenerate after ANY change to the pipeline
# keep/scrub chain, TextDedup minhash/shingles, banding or decontam.
from twin_lib import hash64, shingles, min_hash, band_keys

corpus = [(p[0], r["keep"], r["scrubbed_text"]) for p, r in zip(pages, rows)]
for i in range(2000):
    if i % 100 == 7:  # exact copy: same text -> same keep/scrub as base row
        corpus.append((f"https://copy.example/c/{i}", rows[i]["keep"],
                       rows[i]["scrubbed_text"]))
    if i % 100 == 13:  # near copy: appended line -> rescore + rescrub
        t = pages[i][2] + "\nextra tail line"
        keep, _ = decide(metrics(t), perplexity(PPL, t))
        corpus.append((f"https://near.example/c/{i}", keep, scrub_dict(t)))

kept = [(u, s) for u, k, s in corpus if k]

groups = {}  # scrubbed text -> urls (exact collapse)
for u, s in kept:
    groups.setdefault(s, []).append(u)
cur_arcs = set()
for s, us in groups.items():
    rep = min(us)
    for u in us:
        if u != rep:
            cur_arcs.add((rep, u))

buckets = {}  # (band<<32|hash) -> distinct-text reps
for s, us in groups.items():
    rep = min(us)
    for bk in band_keys(min_hash(s, 5, 126), 9):
        buckets.setdefault(bk, []).append(rep)
for members in buckets.values():
    mn = min(members)
    for u in members:
        if u != mn:
            cur_arcs.add((mn, u))

parent = {u: u for u, _ in kept}
def uf_find(x):
    while parent[x] != x:
        parent[x] = parent[parent[x]]
        x = parent[x]
    return x
for a, b in cur_arcs:
    ra, rb = uf_find(a), uf_find(b)
    if ra != rb:
        if rb < ra:
            ra, rb = rb, ra
        parent[rb] = ra  # min url stays the root == hash-min component label
cur_survivors = [u for u, _ in kept if uf_find(u) == u]

bench_hs = set()
for i in range(2000):
    if i % 250 == 3:
        for s in set(shingles(pages[i][2], 13)):
            bench_hs.add(hash64(s))
kept_map = dict(kept)
cur_clean = sorted(
    u for u in cur_survivors
    if not any(hash64(s) in bench_hs for s in shingles(kept_map[u], 13)))
pq.write_table(pa.table({"url": pa.array(cur_clean, pa.string())}),
               f"{OUT}/curation.parquet")
print(f"wrote {OUT}/curation.parquet ({len(cur_clean)} survivors of "
      f"{len(corpus)} corpus rows, {len(kept)} kept, "
      f"{len(cur_survivors)} post-dedup)")

# ---------------------------------------------------------------------------
# q_ner_train expected: the trained NER tagger's (label, feat, n)
# sufficient statistic (NerTag/NerTagTrain twin) — positives = gazetteer
# entries, negatives = pages(2000) candidate spans containing no entry,
# hapax-pruned (n >= 2). Integer counts, bit-for-bit.
def ner_is_han(c):
    return 0x4E00 <= ord(c) <= 0x9FA0

def ner_is_upper(c):
    return 'A' <= c <= 'Z'

def ner_is_latin(c):
    return ('A' <= c <= 'Z') or ('a' <= c <= 'z')

def ner_candidates(t):
    n = len(t)
    out = []
    i = 0
    while i < n:
        c = t[i]
        if ner_is_han(c):
            j = i
            while j < n and ner_is_han(t[j]):
                j += 1
            run_len = j - i
            if 2 <= run_len <= 12:
                out.append((i, j))
            if (run_len <= 6 and j < n and t[j] == ' ' and j + 1 < n
                    and ner_is_han(t[j + 1])):
                m = j + 1
                while m < n and ner_is_han(t[m]):
                    m += 1
                if m - (j + 1) <= 6 and run_len + (m - (j + 1)) >= 2:
                    out.append((i, m))
            i = j
        elif ner_is_upper(c):
            start = i
            j = i
            words = 0
            cont = True
            while cont and words < 4 and j < n and ner_is_upper(t[j]):
                w = j + 1
                while w < n and ner_is_latin(t[w]):
                    w += 1
                words += 1
                j = w
                if (words < 4 and j < n and t[j] == ' ' and j + 1 < n
                        and ner_is_upper(t[j + 1])):
                    j += 1
                else:
                    cont = False
            if j - start >= 2:
                out.append((start, j))
            i = j
        else:
            i += 1
    return out

def ner_features(s):
    out = ["BIAS"]
    out += ["c:" + ch for ch in s]
    out += ["b:" + s[i:i + 2] for i in range(len(s) - 1)]
    out.append("p:" + s[0])
    out.append("s:" + s[-1])
    out.append("l:" + str(min(len(s), 7)))
    if ' ' in s:
        out.append("sp:1")
    out.append("scr:han" if ner_is_han(s[0]) else "scr:lat")
    return out

ENTRY_SET = {e for _, e in ENTRIES}

def ner_contains_entry(s):
    for ln in range(2, len(s) + 1):
        for i in range(len(s) - ln + 1):
            if s[i:i + ln] in ENTRY_SET:
                return True
    return False

from collections import Counter
ner_counts = Counter()
for label, e in ENTRIES:
    for f in ner_features(e):
        ner_counts[(label, f)] += 1
for p in pages:
    t = p[2]
    for a, z in ner_candidates(t):
        s = t[a:z]
        if not ner_contains_entry(s):
            for f in ner_features(s):
                ner_counts[("NEG", f)] += 1
ner_rows = sorted((lb, f, n) for (lb, f), n in ner_counts.items() if n >= 2)
pq.write_table(pa.table({
    "label": pa.array([r[0] for r in ner_rows], pa.string()),
    "feat": pa.array([r[1] for r in ner_rows], pa.string()),
    "n": pa.array([r[2] for r in ner_rows], pa.int64()),
}), f"{OUT}/ner_train.parquet")
print(f"wrote {OUT}/ner_train.parquet ({len(ner_rows)} features)")

# ---------------------------------------------------------------------------
# q_quality_pipeline expected: 12-feature weights trained over the sf0.01
# documents table (the same solve the quality_train golden pins), applied
# as the pipeline's lowest-priority "quality_model" drop over pages(2000).
# Reuses the already-scored rows for the heuristic reasons; model_keep is
# recomputed through the shared twin_lib featurize + dot (same op order as
# QualityTrain.predictKeep and the native Catalyst scoreColumn).
from twin_lib import qt_featurize, qt_ridge_solve, qt_predict_keep, QT_NF
SF_DIR = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
qp_docs = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["text"])
qp_texts = qp_docs.column("text").to_pylist()
qp_w = qt_ridge_solve(
    [qt_featurize(t, perplexity(PPL, t)) for t in qp_texts], QT_NF)
qp_rows = []
for r, p in zip(rows, pages):
    t = p[2]
    mk = qt_predict_keep(qp_w, qt_featurize(t, perplexity(PPL, t))[0])
    reason = r["drop_reason"] or ("" if mk else "quality_model")
    qp_rows.append((r["url"], reason == "", reason, mk))
pq.write_table(pa.table({
    "url": pa.array([x[0] for x in qp_rows], pa.string()),
    "keep": pa.array([x[1] for x in qp_rows], pa.bool_()),
    "drop_reason": pa.array([x[2] for x in qp_rows], pa.string()),
    "model_keep": pa.array([x[3] for x in qp_rows], pa.bool_()),
}), f"{OUT}/quality_pipeline.parquet")
print(f"wrote {OUT}/quality_pipeline.parquet "
      f"({sum(1 for x in qp_rows if x[2] == 'quality_model')} model drops)")

# ---------------------------------------------------------------------------
# q_stream_pipeline expected (pipeline_tox.parquet): the streaming gate row
# runs with toxicity ENABLED (list = DataGen filler words kappa/rho, which
# occur in a subset of real generated pages). Same ASCII-boundary +
# case-class pattern the Scala regex tier builds; count on RAW text, mask
# applied AFTER the PII scrub, drop attributed lowest-priority — mirrors
# Pipeline.run order exactly.
TOX = ["kappa", "rho"]
TOX_PAT = re.compile(
    "(?<![A-Za-z0-9_])(?:" +
    "|".join("".join(f"[{c.upper()}{c.lower()}]" for c in w) for w in TOX) +
    ")(?![A-Za-z0-9_])")
rows_t = []
for r, p in zip(rows, pages):
    t = p[2]
    n_tox = len(TOX_PAT.findall(t))
    reason = r["drop_reason"] or ("toxicity" if n_tox > 0 else "")
    rows_t.append(dict(r, keep=(reason == ""), drop_reason=reason,
                       scrubbed_text=TOX_PAT.sub("<TOXIC>", r["scrubbed_text"]),
                       n_toxic=n_tox))
pq.write_table(pa.table({
    "url": pa.array([r["url"] for r in rows_t], pa.string()),
    "lang_claimed": pa.array([r["lang_claimed"] for r in rows_t], pa.string()),
    "lang_id": pa.array([r["lang_id"] for r in rows_t], pa.string()),
    "conf_milli": pa.array([r["conf_milli"] for r in rows_t], pa.int64()),
    "ppl_centi": pa.array([r["ppl_centi"] for r in rows_t], pa.int64()),
    "keep": pa.array([r["keep"] for r in rows_t], pa.bool_()),
    "drop_reason": pa.array([r["drop_reason"] for r in rows_t], pa.string()),
    "scrubbed_text": pa.array([r["scrubbed_text"] for r in rows_t], pa.string()),
    "warc_ms": pa.array([r["warc_ms"] for r in rows_t], pa.int64()),
    "n_toxic": pa.array([r["n_toxic"] for r in rows_t], pa.int64()),
}), f"{OUT}/pipeline_tox.parquet")
print(f"wrote {OUT}/pipeline_tox.parquet "
      f"({sum(1 for r in rows_t if r['drop_reason'] == 'toxicity')} toxicity drops, "
      f"{sum(r['n_toxic'] for r in rows_t)} total hits)")
