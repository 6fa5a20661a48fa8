#!/usr/bin/env python3
"""CPython-golden EXPECTED parquet generator (dev-time only; output committed).

Runs the REFERENCE semantics (union replace from app/main.py:100-131, HMAC
seed from app/alias.py:4-7, MT19937 alias draws from app/alias.py:10-19,
detector stack from app/detectors.py:28-38 + app/security_manager.py:177-212)
in CPython over the synthetic sf corpus with the same planted PII the Spark
queries use (SparkEntry.docsPii), and writes the expected outputs as parquet.

These files become DuckDB oracles for the queries whose semantics RE2 cannot
express (the postal lookaround, MT19937 aliasing) — a reference-INDEPENDENT
corpus-scale check: CPython computes the answer, the Scala engine must agree
row-for-row.

Usage: python3 tools/gen_expected.py [sfDir] [outDir]
Defaults: /root/testdata/sf0.01 -> src/test/resources/golden/expected_sf0.01
"""
import re, hmac, hashlib, base64, random, math, os, sys
import duckdb, pyarrow as pa, pyarrow.parquet as pq

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "src/test/resources/golden/expected_sf0.01"
os.makedirs(OUT, exist_ok=True)

# --- patterns exactly as the reference source defines them ---------------
RE_EMAIL  = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
RE_PHONE  = re.compile(r"(?:0\d{1,4}-\d{1,4}-\d{3,4})|(?:\+81-\d{1,4}-\d{1,4}-\d{3,4})")
RE_AMOUNT = re.compile(r"(?:¥|JPY)?\s?\d{1,3}(?:,\d{3})+")
RE_ID     = re.compile(r"\b(?:ACC|USR|ORD)-\d{4,6}\b")
RE_POSTAL = re.compile(r'(?:〒\s*)?(?<!\d)\d{3}[ -‐−–—－]?\d{4}(?![-\d])')
SEP = r'[-．.・ー—－]'
RE_ADDRESS = re.compile(rf'[一-龠]{{1,10}}[都道府県][一-龠]{{1,15}}[市区町村][一-龠0-9{SEP}\s]{{0,40}}')
RE_NAME_K  = re.compile(r'[一-龠]{2,4}\s*[一-龠]{1,3}(?:さん|様|氏|先生|君|ちゃん)?')
RE_NAME_H  = re.compile(r'[ぁ-ゔ]{3,8}(?:さん|様|氏|先生|君|ちゃん)?')
RE_NAME_T  = re.compile(r'[ァ-ヶ]{3,8}(?:さん|様|氏|先生|君|ちゃん)?')

KEY = base64.b64encode(b"graft-spark-pii-default-key!").decode()
NS = "tenant-a"

def seed_of(kind, orig):
    key = base64.b64decode(KEY)
    dig = hmac.new(key, f"{NS}|{kind}|{orig}".encode(), hashlib.sha256).digest()
    return int.from_bytes(dig[:8], "big")

# RefAlias stand-in locale data (core/RefAlias.scala — the Faker deviation
# documented in SURVEY §7.4: same seed, same draw ORDER, own word lists)
DOMAINS = ["example.dev", "example.com", "invalid.test"]
ID_PREFIXES = ["USR", "ORD", "ACC"]
USER_WORDS = ["sato", "suzuki", "takahashi", "tanaka", "ito", "watanabe",
              "yamamoto", "nakamura", "kobayashi", "kato", "yoshida",
              "yamada", "sasaki", "matsumoto"]

def alias_value(kind, orig):
    s = seed_of(kind, orig)
    rnd = random.Random(s)
    if kind == "phone":
        return f"0{rnd.randint(1,9)}-{rnd.randint(1000,9999)}-{rnd.randint(1000,9999)}"
    if kind == "amount":
        return f"¥{rnd.randint(1,9)},{rnd.randint(0,999):03},{rnd.randint(0,999):03}"
    if kind == "id":
        return f"{rnd.choice(ID_PREFIXES)}-{rnd.randint(10000,99999)}"
    if kind == "email":
        fk = random.Random(s)  # the Faker stream is Random(seed) too
        user = f"{fk.choice(USER_WORDS)}{fk.randint(10,99)}"
        return f"{user}@{rnd.choice(DOMAINS)}"
    raise ValueError(kind)

def alias_with_jpy(kind, orig):
    a = alias_value(kind, orig)
    if kind == "amount" and "JPY" in orig:
        return f"JPY {a.lstrip('¥').strip()}"
    return a

ORDERED = [("email", RE_EMAIL), ("phone", RE_PHONE),
           ("amount", RE_AMOUNT), ("id", RE_ID)]
UNION = re.compile("|".join(f"({p.pattern})" for _, p in ORDERED))

def union_replace_ref(text):
    def repl(m):
        idx = next(i for i, g in enumerate(m.groups(), start=1) if g is not None)
        kind, _ = ORDERED[idx - 1]
        return alias_with_jpy(kind, m.group(0))
    return UNION.sub(repl, text)

def detect_all(text):
    """classify_by_regex ++ rule NER, exact hit order (Detect.detectAll)."""
    out = []
    for m in RE_EMAIL.finditer(text):
        out.append(("email", m.group(), m.start(), m.end(), 0.99, "regex:email"))
    for m in RE_PHONE.finditer(text):
        out.append(("phone", m.group(), m.start(), m.end(), 0.95, "regex:phone"))
    for m in RE_AMOUNT.finditer(text):
        out.append(("amount", m.group(), m.start(), m.end(), 0.90, "regex:amount"))
    for m in RE_ID.finditer(text):
        out.append(("id", m.group(), m.start(), m.end(), 0.88, "regex:id"))
    for m in RE_POSTAL.finditer(text):
        out.append(("address", m.group(), m.start(), m.end(), 0.85, "offline_rule_postal"))
    for m in RE_ADDRESS.finditer(text):
        out.append(("address", m.group(), m.start(), m.end(), 0.80, "offline_rule_address"))
    for rx in (RE_NAME_K, RE_NAME_H, RE_NAME_T):
        for m in rx.finditer(text):
            out.append(("name", m.group(), m.start(), m.end(), 0.75, "offline_rule_name"))
    return out

# --- planted-PII corpus: EXACT twin of SparkEntry.docsPii / piiCte --------
def planted(doc_id, text):
    t = text
    if doc_id % 3 != 0:
        t += f" contact u{doc_id}@ex.com"
    if doc_id % 2 == 0:
        t += f" call 0{doc_id % 9 + 1}-1234-{doc_id % 9000 + 1000}"
    if doc_id % 5 < 2:
        t += f" pay ¥{doc_id % 9 + 1},{doc_id % 1000:03}"
    if doc_id % 7 < 3:
        t += f" ref ACC-{doc_id % 90000 + 10000}"
    return t

rows = duckdb.sql(
    f"SELECT doc_id, text FROM '{SF_DIR}/documents.parquet' ORDER BY doc_id"
).fetchall()

# q_scrub_ref expected: (doc_id, scrubbed)
scrub = [(d, union_replace_ref(planted(d, t))) for d, t in rows]
pq.write_table(pa.table({
    "doc_id": pa.array([r[0] for r in scrub], pa.int64()),
    "scrubbed": pa.array([r[1] for r in scrub], pa.string()),
}), f"{OUT}/scrub_ref.parquet")

# q_preview expected: posexploded detectAll hits with exact offsets
prev = []
for d, t in rows:
    for pos, (kind, txt, start, end, conf, reason) in enumerate(detect_all(planted(d, t))):
        prev.append((d, pos, kind, txt, start, end, math.floor(conf * 100), reason))
pq.write_table(pa.table({
    "doc_id": pa.array([r[0] for r in prev], pa.int64()),
    "pos": pa.array([r[1] for r in prev], pa.int32()),
    "kind": pa.array([r[2] for r in prev], pa.string()),
    "text": pa.array([r[3] for r in prev], pa.string()),
    "start": pa.array([r[4] for r in prev], pa.int32()),
    "end": pa.array([r[5] for r in prev], pa.int32()),
    "conf_centi": pa.array([r[6] for r in prev], pa.int64()),
    "reason": pa.array([r[7] for r in prev], pa.string()),
}), f"{OUT}/preview.parquet")

print(f"wrote {OUT}/scrub_ref.parquet ({len(scrub)} rows), "
      f"{OUT}/preview.parquet ({len(prev)} rows)")

# --- q_ner_model expected: per-kind hit counts over the planted-NER corpus.
# Independent-implementation check of the gazetteer model: Python reads the
# SAME committed artifact and counts ALL occurrences of every entry (the
# Aho-Corasick all-match semantics) with naive find loops.
import gzip
HF2PII = {"PER": "name", "ORG": "org", "LOC": "address", "MISC": "misc"}
with gzip.open("src/main/resources/graft/ner_gazetteer.tsv.gz", "rt",
               encoding="utf-8") as f:
    entries = [(l.split("\t", 2)[0], l.split("\t", 2)[2].rstrip("\n"))
               for l in f if l.strip()]

def planted_ner(doc_id, text):  # twin of SparkEntry.docsNer
    t = text
    if doc_id % 4 == 0: t += " 山田太郎"
    if doc_id % 6 == 0: t += " Example Corp"
    if doc_id % 5 == 0: t += " 東京都"
    return t

counts = {}
for d, t in rows:
    text = planted_ner(d, t)
    for label, e in entries:
        i = text.find(e)
        while i >= 0:
            k = HF2PII.get(label, "misc")
            counts[k] = counts.get(k, 0) + 1
            i = text.find(e, i + 1)
ner_rows = sorted(counts.items())
pq.write_table(pa.table({
    "kind": pa.array([k for k, _ in ner_rows], pa.string()),
    "n": pa.array([n for _, n in ner_rows], pa.int64()),
}), f"{OUT}/ner_model.parquet")
print(f"wrote {OUT}/ner_model.parquet ({ner_rows})")

# ---------------------------------------------------------------------------
# q_scrub_enhanced expected: the ENHANCED-level merged scrub (Scrub.
# scrubWithMode with model hits, mode=dict, no policies) — regex-union spans over the
# FullOrder pattern list merged with gazetteer model hits via the stable
# (start, -len) sort + greedy span dedup, then dict-aliased in one splice.
FULL_ORDER = [("email", RE_EMAIL), ("phone", RE_PHONE), ("amount", RE_AMOUNT),
              ("id", RE_ID), ("address", RE_POSTAL), ("address", RE_ADDRESS),
              ("name", RE_NAME_K), ("name", RE_NAME_H), ("name", RE_NAME_T)]
UNION_FULL = re.compile("|".join(f"({p.pattern})" for _, p in FULL_ORDER))
DICT_TAG = {"email": "EMAIL", "phone": "PHONE", "amount": "AMOUNT", "id": "ID",
            "address": "ADDRESS", "name": "PERSON", "org": "ORG", "misc": "MISC"}

def planted_enh(doc_id, text):  # twin of SparkEntry.docsNerPii (PII then NER)
    return planted_ner(doc_id, planted(doc_id, text))

def model_hits_of(text):
    """NerSlot.infer twin: all occurrences of every gazetteer entry,
    sorted by (start, end, reason, text)."""
    hits = []
    for label, e in entries:
        i = text.find(e)
        while i >= 0:
            hits.append((HF2PII.get(label, "misc"), e, i, i + len(e),
                         f"model:{label}"))
            i = text.find(e, i + 1)
    hits.sort(key=lambda h: (h[2], h[3], h[4], h[1]))
    return hits

def scrub_enhanced_dict(text):
    # regex spans FIRST (stable sort ⇒ rule hit wins identical spans)
    spans = []
    for m in UNION_FULL.finditer(text):
        idx = next(i for i, g in enumerate(m.groups(), start=1) if g is not None)
        spans.append((FULL_ORDER[idx - 1][0], m.group(0), m.start(), m.end()))
    mh = model_hits_of(text)
    spans += [(k, t, s, e) for k, t, s, e, _ in mh]
    spans.sort(key=lambda h: (h[2], -(h[3] - h[2])))  # stable, like sortBy
    out = []
    last = 0
    counts = {}
    aliases = {}
    per_tag = {}
    last_end = -1
    for kind, orig, s, e in spans:
        if s < last_end:
            continue  # greedy span dedup (Scrub.dedupSpans)
        last_end = e
        counts[kind] = counts.get(kind, 0) + 1
        tag = DICT_TAG.get(kind, "PII")
        key = (tag, orig)
        if key not in aliases:
            per_tag[tag] = per_tag.get(tag, 0) + 1
            aliases[key] = f"<{tag}_{per_tag[tag]}>"
        out.append(text[last:s])
        out.append(aliases[key])
        last = e
    out.append(text[last:])
    return "".join(out), counts, len(mh)

enh = []
for d, t in rows:
    text = planted_enh(d, t)
    scrubbed, counts, n_model = scrub_enhanced_dict(text)
    enh.append((d, scrubbed, counts.get("org", 0), counts.get("name", 0), n_model))
pq.write_table(pa.table({
    "doc_id": pa.array([r[0] for r in enh], pa.int64()),
    "scrubbed": pa.array([r[1] for r in enh], pa.string()),
    "n_org": pa.array([r[2] for r in enh], pa.int64()),
    "n_name": pa.array([r[3] for r in enh], pa.int64()),
    "n_model": pa.array([r[4] for r in enh], pa.int64()),
}), f"{OUT}/scrub_enhanced.parquet")
print(f"wrote {OUT}/scrub_enhanced.parquet ({len(enh)} rows)")

# ---------------------------------------------------------------------------
# Model-scoring twins: load the SAME committed binary model artifacts the
# engine broadcasts (src/main/resources/graft/*.bin|*.lm, ModelIo format) and
# reimplement ONLY the scoring loops — an independent implementation of
# LangIdModel.classify / PerplexityModel.perplexity. Java char semantics are
# replicated explicitly (Character.isWhitespace excludes NBSP-family;
# toLowerCase is the simple one-char mapping — take lower()[0]).
# shared Java-char-semantics + model-scoring twins live in twin_lib.py
# (single source of truth with gen_expected_pipeline.py)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from twin_lib import (java_lower, is_java_ws, read_ppl, perplexity,
                      read_langid, classify)

RES = "src/main/resources/graft"

lid = read_langid(f"{RES}/langid.bin")
lid_rows = [(d, *classify(lid, t)) for d, t in rows]
pq.write_table(pa.table({
    "doc_id": pa.array([r[0] for r in lid_rows], pa.int64()),
    "lang_id": pa.array([r[1] for r in lid_rows], pa.string()),
    "conf_milli": pa.array([math.floor(r[2] * 1000) for r in lid_rows], pa.int64()),
}), f"{OUT}/langid.parquet")

ppl_en = read_ppl(f"{RES}/ppl_en.lm")
ppl_rows = [(d, math.floor(perplexity(ppl_en, t) * 100)) for d, t in rows]
pq.write_table(pa.table({
    "doc_id": pa.array([r[0] for r in ppl_rows], pa.int64()),
    "ppl_centi": pa.array([r[1] for r in ppl_rows], pa.int64()),
}), f"{OUT}/ppl.parquet")

bank = {l: read_ppl(f"{RES}/ppl_{l}.lm") for l in ("en", "es", "de", "fr")}
lang_col = dict(duckdb.sql(
    f"SELECT doc_id, lang FROM '{SF_DIR}/documents.parquet'").fetchall())
pl_rows = [(d, lang_col[d],
            math.floor(perplexity(bank.get(lang_col[d], bank["en"]), t) * 100))
           for d, t in rows]
pq.write_table(pa.table({
    "doc_id": pa.array([r[0] for r in pl_rows], pa.int64()),
    "lang": pa.array([r[1] for r in pl_rows], pa.string()),
    "ppl_centi": pa.array([r[2] for r in pl_rows], pa.int64()),
}), f"{OUT}/ppl_lang.parquet")
print(f"wrote {OUT}/langid.parquet, ppl.parquet, ppl_lang.parquet")

# ---------------------------------------------------------------------------
# Dedup-construction twins: independent reimplementation of TextDedup's
# MinHash-LSH and SimHash pipelines (core/TextDedup.scala, spark/Dedup.scala)
# including scala.util.hashing.MurmurHash3's string/array hashes — all
# integer math, so CPython reproduces the Scala outputs bit-for-bit.
from twin_lib import (M32, to_s32, to_s64, hash64, scala_string_hash,
                      scala_array_hash, tokens, shingles, min_hash,
                      band_keys, HASH_A, HASH_B)
def sim_hash(text):
    votes = [0] * 64
    for t in tokens(text):
        h = hash64(t)
        for i in range(64):
            votes[i] += 1 if (h >> i) & 1 else -1
    out = 0
    for i in range(64):
        if votes[i] > 0:
            out |= 1 << i
    return out

# the dedup corpus: exact twin of SparkEntry.docsDedup / dedupCte
ddocs = [(d, t) for d, t in rows]
ddocs += [(d + 2000000, t) for d, t in rows if d % 10 == 0]
ddocs += [(d + 1000000, t + " zz yy xx") for d, t in rows if d % 7 == 0]

# --- q_dup_simhash expected: (a, b, min dist) with hamming <= 3
sh = [(d, sim_hash(t)) for d, t in ddocs]
sh_pairs = {}
for i in range(len(sh)):
    for j in range(i + 1, len(sh)):
        a, ha = sh[i]
        b, hb = sh[j]
        if a > b:
            a, b, ha, hb = b, a, hb, ha
        dist = bin(ha ^ hb).count('1')
        if dist <= 3:
            k = (a, b)
            if k not in sh_pairs or dist < sh_pairs[k]:
                sh_pairs[k] = dist
sh_rows = sorted(sh_pairs.items())
pq.write_table(pa.table({
    "a": pa.array([k[0] for k, _ in sh_rows], pa.int64()),
    "b": pa.array([k[1] for k, _ in sh_rows], pa.int64()),
    "dist": pa.array([d for _, d in sh_rows], pa.int32()),
}), f"{OUT}/dup_simhash.parquet")

# --- q_dup_minhash expected: Dedup.minHashLsh(k=3, 128, 32 bands, th 0.5)
# exact-collapse first: min-id representative per md5(text); star arcs
by_digest = {}
for d, t in ddocs:
    by_digest.setdefault(hashlib.md5(t.encode()).hexdigest(), []).append(d)
arcs = {}
reps = []
rep_text = {}
txt = dict(ddocs)
for dig, ids in by_digest.items():
    rep = min(ids)
    reps.append(rep)
    rep_text[rep] = txt[rep]
    for i in ids:
        if i != rep:
            arcs[(rep, i)] = 1.0
sigs = {r: min_hash(rep_text[r], 3, 128) for r in reps}
buckets = {}
for r in reps:
    for bk in band_keys(sigs[r], 32):
        buckets.setdefault(bk, []).append(r)
mh_pairs = {}
for bk, ids in buckets.items():
    if len(ids) > 4096:
        continue  # band-bucket population cap
    ids = sorted(ids)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            a, b = ids[i], ids[j]
            sa, sb = sigs[a], sigs[b]
            eq = sum(1 for x, y in zip(sa, sb) if x == y)
            sim = eq / 128
            if sim >= 0.5:
                k = (a, b)
                if k not in mh_pairs or sim > mh_pairs[k]:
                    mh_pairs[k] = sim
mh_pairs.update(arcs)
mh_rows = sorted(mh_pairs.items())

# --- q_dup_minhash_arcs expected: Dedup.minHashBucketArcs(k=3, 126, 9 bands)
# — unverified bucket-star arcs: per (band, bucket) min-id → member, plus
# the exact-collapse star arcs; no similarity verification.
arc_sigs = {r: min_hash(rep_text[r], 3, 126) for r in reps}
arc_buckets = {}
for r in reps:
    for bk in band_keys(arc_sigs[r], 9):
        arc_buckets.setdefault(bk, []).append(r)
arc_set = set(arcs.keys())  # exact star arcs (rep, copy)
for bk, ids in arc_buckets.items():
    if len(ids) > 1:
        m = min(ids)
        for i in ids:
            if i != m:
                arc_set.add((m, i))
arc_rows = sorted(arc_set)
pq.write_table(pa.table({
    "a": pa.array([a for a, _ in arc_rows], pa.int64()),
    "b": pa.array([b for _, b in arc_rows], pa.int64()),
}), f"{OUT}/dup_minhash_arcs.parquet")
print(f"wrote {OUT}/dup_minhash_arcs.parquet ({len(arc_rows)} arcs)")
pq.write_table(pa.table({
    "a": pa.array([k[0] for k, _ in mh_rows], pa.int64()),
    "b": pa.array([k[1] for k, _ in mh_rows], pa.int64()),
    "sim": pa.array([s for _, s in mh_rows], pa.float64()),
}), f"{OUT}/dup_minhash.parquet")
print(f"wrote {OUT}/dup_simhash.parquet ({len(sh_rows)}), "
      f"dup_minhash.parquet ({len(mh_rows)})")

# ---------------------------------------------------------------------------
# q_bpe_merges expected: classic BPE merge learning over the word-frequency
# dict (BpeTrain.learnMerges twin) — count desc, lexicographic tie-break.
from collections import Counter

def bpe_merges(word_freq, num):
    words = [(list(w) + ["</w>"], n) for w, n in word_freq]
    out = []
    for rank in range(num):
        counts = {}
        for syms, n in words:
            for i in range(len(syms) - 1):
                k = (syms[i], syms[i + 1])
                counts[k] = counts.get(k, 0) + n
        if not counts:
            break
        (l, r), freq = min(counts.items(),
                           key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        out.append((rank, l, r, freq))
        nw = []
        for syms, n in words:
            b = []
            i = 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == l and syms[i + 1] == r:
                    b.append(l + r)
                    i += 2
                else:
                    b.append(syms[i])
                    i += 1
            nw.append((b, n))
        words = nw
    return out

wf = Counter()
for _, t in rows:
    wf.update(tokens(t))
dict_items = sorted(((w, n) for w, n in wf.items() if n >= 2))
merges = bpe_merges(dict_items, 50)
pq.write_table(pa.table({
    "rank": pa.array([m[0] for m in merges], pa.int32()),
    "left": pa.array([m[1] for m in merges], pa.string()),
    "right": pa.array([m[2] for m in merges], pa.string()),
    "freq": pa.array([m[3] for m in merges], pa.int64()),
}), f"{OUT}/bpe_merges.parquet")
print(f"wrote {OUT}/bpe_merges.parquet ({len(merges)} rows)")

# ---------------------------------------------------------------------------
# q_gopher_ngrams expected: Gopher repetition metrics (GopherRepetition
# twin) — top-n-gram and duplicated-n-gram character fractions in exact
# milli units over Quality.tokens tokens.

def gr_covered(toks, n, pred):
    covered = [False] * len(toks)
    for i in range(len(toks) - n + 1):
        if pred(i):
            for j in range(i, i + n):
                covered[j] = True
    return sum(len(toks[i]) for i in range(len(toks)) if covered[i])

def gr_counts(toks, n):
    counts = {}
    for i in range(len(toks) - n + 1):
        k = ' '.join(toks[i:i + n])
        counts[k] = counts.get(k, 0) + 1
    return counts

def gr_top_milli(toks, n):
    total = sum(len(t) for t in toks)
    if total == 0 or len(toks) < n:
        return 0
    counts = gr_counts(toks, n)
    best_key = None
    best_count = 0
    for k, c in counts.items():
        if c > best_count or (c == best_count and (best_key is None or k < best_key)):
            best_key, best_count = k, c
    # no >=2 floor: Gopher measures the top n-gram's fraction even when it
    # occurs once (Rae et al. SSA1.1)
    # coverage, chars counted once (overlapping occurrences don't inflate)
    marked = gr_covered(toks, n, lambda i: ' '.join(toks[i:i + n]) == best_key)
    return math.floor(1000.0 * marked / total)

def gr_dup_milli(toks, n):
    total = sum(len(t) for t in toks)
    if total == 0 or len(toks) < n:
        return 0
    counts = gr_counts(toks, n)
    marked = gr_covered(toks, n, lambda i: counts[' '.join(toks[i:i + n])] >= 2)
    return math.floor(1000.0 * marked / total)

gn_rows = []
for d, t in rows:
    toks = tokens(t)
    gn_rows.append((d, gr_top_milli(toks, 2), gr_top_milli(toks, 3),
                    gr_top_milli(toks, 4), gr_dup_milli(toks, 5),
                    gr_dup_milli(toks, 10)))
pq.write_table(pa.table({
    "doc_id": pa.array([r[0] for r in gn_rows], pa.int64()),
    "top2_milli": pa.array([r[1] for r in gn_rows], pa.int64()),
    "top3_milli": pa.array([r[2] for r in gn_rows], pa.int64()),
    "top4_milli": pa.array([r[3] for r in gn_rows], pa.int64()),
    "dup5_milli": pa.array([r[4] for r in gn_rows], pa.int64()),
    "dup10_milli": pa.array([r[5] for r in gn_rows], pa.int64()),
}), f"{OUT}/gopher_ngrams.parquet")
print(f"wrote {OUT}/gopher_ngrams.parquet ({len(gn_rows)} rows)")

# ---------------------------------------------------------------------------
# q_bpe_encode expected: corpus token frequencies under the learned merge
# table (BpeTrain.encodeCountsFromWordCounts twin) — per word: repeatedly
# merge the LOWEST-rank adjacent pair present, all occurrences left to right.
bpe_ranks = {(l, r): rank for rank, l, r, _ in merges}

def bpe_encode_word(w):
    syms = list(w) + ["</w>"]
    while len(syms) > 1:
        best = None
        bi = -1
        for i in range(len(syms) - 1):
            rk = bpe_ranks.get((syms[i], syms[i + 1]))
            if rk is not None and (best is None or rk < best):
                best = rk
                bi = i
        if bi < 0:
            break
        l, r = syms[bi], syms[bi + 1]
        out2 = []
        i = 0
        while i < len(syms):
            if i < len(syms) - 1 and syms[i] == l and syms[i + 1] == r:
                out2.append(l + r)
                i += 2
            else:
                out2.append(syms[i])
                i += 1
        syms = out2
    return syms

enc_counts = {}
enc_memo = {}
for _, t in rows:
    for w in tokens(t):
        toks = enc_memo.get(w)
        if toks is None:
            toks = bpe_encode_word(w)
            enc_memo[w] = toks
        for tok in toks:
            enc_counts[tok] = enc_counts.get(tok, 0) + 1
enc_items = sorted(enc_counts.items())
pq.write_table(pa.table({
    "token": pa.array([t for t, _ in enc_items], pa.string()),
    "n": pa.array([n for _, n in enc_items], pa.int64()),
}), f"{OUT}/bpe_encode.parquet")
print(f"wrote {OUT}/bpe_encode.parquet ({len(enc_items)} distinct tokens)")

# ---------------------------------------------------------------------------
# q_lm_train expected: trigram counts over the corpus (LmTrain.gramCounts
# twin) — per-document context reset to (space, space), 8192-char cap
# mirroring the scorer, gram id = (p2*A + p1)*A + c0 with A=38.
from twin_lib import ppl_sym

LM_A = 38
lm_counts = {}
for _, t in rows:
    p2 = p1 = 36
    for ch in t[:8192]:
        c0 = ppl_sym(ch)
        g = (p2 * LM_A + p1) * LM_A + c0
        lm_counts[g] = lm_counts.get(g, 0) + 1
        p2, p1 = p1, c0
lm_items = sorted(lm_counts.items())
pq.write_table(pa.table({
    "gram": pa.array([g for g, _ in lm_items], pa.int32()),
    "n": pa.array([n for _, n in lm_items], pa.int64()),
}), f"{OUT}/lm_train.parquet")
print(f"wrote {OUT}/lm_train.parquet ({len(lm_items)} rows)")

# ---------------------------------------------------------------------------
# q_langid_train expected: supervised (lang, gram, n) counts over the corpus'
# own lang labels (LangIdTrain.gramCounts twin) — per-doc LangId.normalize
# (java lowercase, whitespace folded, sentinel spaces, 4096-char prefix),
# char 1..3-grams, minCount=5.

def langid_normalize(t):
    out = [' ']
    last = True
    for c in t[:4096]:
        lc = java_lower(c)
        if is_java_ws(lc):
            if not last:
                out.append(' ')
                last = True
        else:
            out.append(lc)
            last = False
    out.append(' ')  # unconditional trailing sentinel (matches the Scala)
    return ''.join(out)

lt_rows = duckdb.sql(
    f"SELECT lang, text FROM '{SF_DIR}/documents.parquet' ORDER BY doc_id"
).fetchall()
lt_counts = {}
for lang, t in lt_rows:
    nt = langid_normalize(t)
    for k in (1, 2, 3):
        for i in range(len(nt) - k + 1):
            key = (lang, nt[i:i + k])
            lt_counts[key] = lt_counts.get(key, 0) + 1
lt_items = sorted((k, n) for k, n in lt_counts.items() if n >= 5)
pq.write_table(pa.table({
    "lang": pa.array([k[0] for k, _ in lt_items], pa.string()),
    "gram": pa.array([k[1] for k, _ in lt_items], pa.string()),
    "n": pa.array([n for _, n in lt_items], pa.int64()),
}), f"{OUT}/langid_train.parquet")
print(f"wrote {OUT}/langid_train.parquet ({len(lt_items)} rows)")

# ---------------------------------------------------------------------------
# q_decontam expected: 13-gram benchmark-collision marking (Decontam twin) —
# benchmark = every 97th doc; per-doc DISTINCT shingle hashes vs the
# benchmark's distinct hash set (shingles/hash64 are the proven dedup ports).
DC_K = 13
dc_bench = set()
for d, t in rows:
    if d % 97 == 0:
        for s in set(shingles(t, DC_K)):
            dc_bench.add(hash64(s))
dc_rows = []
for d, t in rows:
    doc_hs = {hash64(s) for s in shingles(t, DC_K)}
    nh = sum(1 for h in doc_hs if h in dc_bench)
    dc_rows.append((d, nh, nh > 0))
pq.write_table(pa.table({
    "doc_id": pa.array([r[0] for r in dc_rows], pa.int64()),
    "n_hits13": pa.array([r[1] for r in dc_rows], pa.int64()),
    "contaminated": pa.array([r[2] for r in dc_rows], pa.bool_()),
}), f"{OUT}/decontam.parquet")
print(f"wrote {OUT}/decontam.parquet "
      f"({sum(1 for r in dc_rows if r[2])} contaminated of {len(dc_rows)})")

# q_decontam_report expected: per-BENCHMARK-doc leakage attribution
# (Decontam.report twin) — n corpus docs sharing >=1 13-gram with each
# bench doc (bench members count themselves when they have a shingle).
dcr_bench = [(d, t) for d, t in rows if d % 97 == 0]
dcr_sets = {d: {hash64(x) for x in set(shingles(t, DC_K))} for d, t in dcr_bench}
dcr = {d: 0 for d, _ in dcr_bench}
for cd, t in ddocs:  # the planted-duplicate corpus: real multi-doc leaks
    doc_hs = {hash64(x) for x in shingles(t, DC_K)}
    for bd, hs in dcr_sets.items():
        if doc_hs & hs:
            dcr[bd] += 1
dcr_rows = sorted(dcr.items())
pq.write_table(pa.table({
    "bench_id": pa.array([r[0] for r in dcr_rows], pa.int64()),
    "n_docs": pa.array([r[1] for r in dcr_rows], pa.int64()),
}), f"{OUT}/decontam_report.parquet")
print(f"wrote {OUT}/decontam_report.parquet ({len(dcr_rows)} bench docs)")

# ---------------------------------------------------------------------------
# q_quality_train expected: closed-form class-weighted ridge least-squares
# distillation (QualityTrain twin). Exact integer sufficient statistics,
# then the SAME partial-pivot elimination, op for op — doubles are IEEE-
# deterministic given identical operation order, so weights match the JVM
# bit-for-bit.
from twin_lib import (qt_featurize, qt_featurize_ng, qt_ridge_solve,
                      QT_NF, QT_NAMES)

QT_CW0 = 5       # dropClassWeight
QT_RIDGE = 1.0

qt_feats = [qt_featurize(t, perplexity(ppl_en, t)) for _, t in rows]
qt_w = qt_ridge_solve(qt_feats, QT_NF, QT_CW0, QT_RIDGE)
pq.write_table(pa.table({
    "feature": pa.array(QT_NAMES, pa.string()),
    "w_micro": pa.array([math.floor(w * 1000000.0) for w in qt_w], pa.int64()),
}), f"{OUT}/quality_train.parquet")
print(f"wrote {OUT}/quality_train.parquet (w_micro={[math.floor(w*1e6) for w in qt_w]})")

# q_quality_apply expected: learned separator vs heuristic labels
qt_cm = {}
for f, y in qt_feats:
    z = 0.0
    for j in range(QT_NF):
        z += qt_w[j] * f[j]
    key = (z >= 0.0, y == 1)
    qt_cm[key] = qt_cm.get(key, 0) + 1
qt_cm_items = sorted(qt_cm.items())
pq.write_table(pa.table({
    "pred_keep": pa.array([k[0] for k, _ in qt_cm_items], pa.bool_()),
    "heur_keep": pa.array([k[1] for k, _ in qt_cm_items], pa.bool_()),
    "n": pa.array([n for _, n in qt_cm_items], pa.int64()),
}), f"{OUT}/quality_apply.parquet")
print(f"wrote {OUT}/quality_apply.parquet ({qt_cm_items})")

# ---------------------------------------------------------------------------
# q_quality_train_ng expected: the hashed token-unigram variant
# (QualityTrain.trainRelationNg twin) — 12 aggregate features + 16 hashed
# bag-of-words bucket rates (1000*count // nTokens, bucket = unsigned
# hash64(token) mod 16). Same exact-integer statistics and the identical
# elimination, at nf = 28.
from twin_lib import QT_NG
QT_NF2 = QT_NF + QT_NG

qt2_feats = [qt_featurize_ng(t, perplexity(ppl_en, t)) for _, t in rows]
qt2_w = qt_ridge_solve(qt2_feats, QT_NF2, QT_CW0, QT_RIDGE)
QT2_NAMES = QT_NAMES + ["ng%d" % h for h in range(QT_NG)]
pq.write_table(pa.table({
    "feature": pa.array(QT2_NAMES, pa.string()),
    "w_micro": pa.array([math.floor(w * 1000000.0) for w in qt2_w], pa.int64()),
}), f"{OUT}/quality_train_ng.parquet")
print(f"wrote {OUT}/quality_train_ng.parquet "
      f"(w_micro={[math.floor(w*1e6) for w in qt2_w[:6]]}...)")

# ---------------------------------------------------------------------------
# ANN / embedding-LSH twins: replicate Ann.hyperplanes (splitmix64 → float),
# the signature dot (float values widened to double), the quantized dot, and
# cosine (note: Spark's zip_with multiply is a FLOAT product — float32
# rounding replicated via numpy).
import numpy as np

evecs = {int(v): [float(x) for x in e] for v, e in duckdb.sql(
    f"SELECT vec_id, embedding FROM '{SF_DIR}/embeddings.parquet'").fetchall()}
DIM = len(next(iter(evecs.values())))

def hyperplanes(n_bits, dim, seed):
    planes = []
    for i in range(n_bits):
        row = []
        for j in range(dim):
            x = (seed + i * 1000003 + j + 0x9e3779b97f4a7c15) & ((1 << 64) - 1)
            x = ((x ^ (x >> 30)) * 0xbf58476d1ce4e5b9) & ((1 << 64) - 1)
            x = ((x ^ (x >> 27)) * 0x94d049bb133111eb) & ((1 << 64) - 1)
            x = x ^ (x >> 31)
            row.append(float(np.float32((x >> 11) / float(1 << 53) * 2.0 - 1.0)))
        planes.append(row)
    return planes

def signature(v, planes):
    s = 0
    for i, p in enumerate(planes):
        d = 0.0
        for j in range(min(len(p), len(v))):
            d += p[j] * v[j]  # double product of float-widened values
        if d >= 0:
            s |= 1 << i
    return s

def dot_q(a, b):
    s = 0
    for x, y in zip(a, b):
        s += math.floor(x * 1000) * math.floor(y * 1000)
    return s

# --- q_embed_neardup_lsh expected (planted near copies, th 900000)
aug = dict(evecs)
for v, e in evecs.items():
    if v % 5 == 0:
        nid = v + 1000000
        # NOTE: in the Spark query, col("vec_id") inside the transform
        # lambda resolves LATERALLY to the aliased (vec_id + 1000000)
        # column, so the sin argument is i + v + 2_000_000
        aug[nid] = [float(np.float32(x * 0.98 + 0.02 * math.sin(i + nid + 1000000)))
                    for i, x in enumerate(e)]
# exact-collapse twin (Dedup.embeddingNearDupsLsh): identical vectors →
# min-id representative + (rep, copy, selfDot) star arcs; buckets see
# only distinct vectors (no-op on this corpus, semantics mirrored)
el_pairs = {}
by_vec = {}
for v, e in aug.items():
    by_vec.setdefault(tuple(e), []).append(v)
el_reps = {}
for vec, ids in by_vec.items():
    rep = min(ids)
    el_reps[rep] = list(vec)
    sd = dot_q(vec, vec)
    for i in ids:
        if i != rep and sd >= 900000:
            el_pairs[(rep, i)] = sd
for t in range(6):
    planes = hyperplanes(10, DIM, 42 + t * 7919)
    bk = {}
    for v, e in el_reps.items():
        bk.setdefault(signature(e, planes), []).append(v)
    for ids in bk.values():
        if len(ids) > 4096:
            continue
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                a, b = ids[i], ids[j]
                d = dot_q(el_reps[a], el_reps[b])
                if d >= 900000:
                    el_pairs[(a, b)] = max(el_pairs.get((a, b), d), d)
el_rows = sorted(el_pairs.items())
pq.write_table(pa.table({
    "a": pa.array([k[0] for k, _ in el_rows], pa.int64()),
    "b": pa.array([k[1] for k, _ in el_rows], pa.int64()),
    "dot_q": pa.array([d for _, d in el_rows], pa.int64()),
}), f"{OUT}/embed_neardup_lsh.parquet")

# --- q_ann_lsh expected: lshTopK(vec_id != 0, query = vec 0, k=10, nBits=6)
def cosine(a, b):
    dot = 0.0
    na = 0.0
    nb = 0.0
    for x, y in zip(a, b):
        dot += float(np.float32(x) * np.float32(y))  # FLOAT product
    for x in a:
        na += float(np.float32(x) * np.float32(x))
    for y in b:
        nb += float(np.float32(y) * np.float32(y))
    return dot / (math.sqrt(na) * math.sqrt(nb) + 1e-12)

qv = evecs[0]
all_planes = [hyperplanes(6, DIM, 42 + t * 7919) for t in range(3)]
q_sigs = [signature(qv, p) for p in all_planes]
cands = []
for v, e in evecs.items():
    if v == 0:
        continue
    ok = False
    for t in range(3):
        if bin(signature(e, all_planes[t]) ^ q_sigs[t]).count('1') <= 2:
            ok = True
            break
    if ok:
        cands.append((v, cosine(e, qv)))
cands.sort(key=lambda p: (-p[1], p[0]))
top = cands[:10]
pq.write_table(pa.table({
    "vec_id": pa.array([v for v, _ in top], pa.int64()),
    "score": pa.array([s for _, s in top], pa.float64()),
}), f"{OUT}/ann_lsh.parquet")
print(f"wrote {OUT}/embed_neardup_lsh.parquet ({len(el_rows)}), "
      f"ann_lsh.parquet ({len(top)})")

# --- q_ann_ivf expected: Ann.kmeansCentroids + ivfIndex + ivfTopK twin
def vec_hash(v):  # Ann.vecHash: splitmix64 over quantized elements
    h = 0x9e3779b97f4a7c15
    for x in v:
        t = (h ^ (math.floor(x * 1000) & ((1 << 64) - 1))) & ((1 << 64) - 1)
        t = ((t ^ (t >> 30)) * 0xbf58476d1ce4e5b9) & ((1 << 64) - 1)
        t = ((t ^ (t >> 27)) * 0x94d049bb133111eb) & ((1 << 64) - 1)
        h = t ^ (t >> 31)
    return h

def dist2(v, c):
    d = 0.0
    for j in range(len(v)):
        x = v[j] - c[j]
        d += x * x
    return d

def nearest(v, cents):
    best = 0
    bd = float('inf')
    for ci, c in enumerate(cents):
        d = dist2(v, c)
        if d < bd:
            bd = d
            best = ci
    return best

def java_pmod(s, m):  # Spark pmod on a signed Long
    r = abs(s) % m
    if s < 0:
        r = -r
    return (r + m) % m

rest = {v: e for v, e in evecs.items() if v != 0}
mod = max(1, len(rest) // (2 * 4096))
picked = [e for e in rest.values()
          if java_pmod(to_s64(vec_hash(e)), mod) == 0]
picked.sort(key=lambda e: (to_s64(vec_hash(e)),
                           ",".join(str(math.floor(x * 1000)) for x in e)))
if len(picked) > 4096:
    picked = [picked[(i * len(picked)) // 4096] for i in range(4096)]
K = 16
# deterministic init: evenly strided points of the hash-ordered sample
cents = [list(picked[(i * len(picked)) // K]) for i in range(K)]
for _ in range(10):
    sums = [[0.0] * DIM for _ in range(K)]
    cnt = [0] * K
    for v in picked:
        c = nearest(v, cents)
        cnt[c] += 1
        for j in range(DIM):
            sums[c][j] += v[j]
    cents = [cents[c] if cnt[c] == 0 else
             [float(np.float32(sums[c][j] / cnt[c])) for j in range(DIM)]
             for c in range(K)]
order = sorted(range(K), key=lambda i: dist2(qv, cents[i]))[:4]
probe = set(order)
iv_cands = [(v, cosine(e, qv)) for v, e in rest.items()
            if nearest(e, cents) in probe]
iv_cands.sort(key=lambda p: (-p[1], p[0]))
iv_top = iv_cands[:10]
pq.write_table(pa.table({
    "vec_id": pa.array([v for v, _ in iv_top], pa.int64()),
    "score": pa.array([s for _, s in iv_top], pa.float64()),
}), f"{OUT}/ann_ivf.parquet")
print(f"wrote {OUT}/ann_ivf.parquet ({len(iv_top)})")
