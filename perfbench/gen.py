"""Seeded input generator for the perfbench workloads.

One process, Python's Mersenne Twister only (``random.Random(seed)``), so
the same seed gives byte-identical files. The program under test receives
only the files written here; nothing is read from any shared test-data
directory.

Every size and planted property of a workload lives in ``WORKLOADS``; the
run record copies it, and README.md explains why each value was chosen.
"""
import bisect
import hashlib
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 4

WORKLOADS = {
    # the paper's two jobs: multi-script word count (combiner and raw-pair
    # shuffles) through the region JSON sink, and max temperature per year.
    # "loops" is the input of the q155b + q147 call its traced run adds
    # (text_loops' make-up), so the loops layer is measured on a workload
    # of the benchmark's record
    "mr_jobs": {"text_bytes": 5_000_000, "temp_bytes": 1_200_000,
                "latin_line_share": 0.6, "regions": 8,
                "loops": {"text_bytes": 150_000, "exact_share": 0.0, "near_share": 0.0,
                          "far_share": 0.0, "en_share": 0.6, "orders": 4000, "parts": 1000}},
    # q51: near-dedup dominates; duplicate shares set the candidate volume.
    # "chain" is the input of the q93d call its traced run adds, so the
    # chain layer is measured on a workload of the benchmark's record
    "near_dedup": {"text_bytes": 2_500_000, "exact_share": 0.10, "near_share": 0.20,
                   "far_share": 0.05, "en_share": 0.6,
                   "chain": {"text_bytes": 100_000, "exact_share": 0.04, "near_share": 0.06,
                             "far_share": 0.02, "en_share": 0.6}},
    # q93d: ingest + eager-checkpoint chain; near-dedup is a minority share
    "crawl_chain": {"text_bytes": 180_000, "exact_share": 0.04, "near_share": 0.06,
                    "far_share": 0.02, "en_share": 0.6},
    # q155b + q147: many small jobs per result, no duplicates, no ingest
    "text_loops": {"text_bytes": 150_000, "exact_share": 0.0, "near_share": 0.0,
                   "far_share": 0.0, "en_share": 0.6,
                   "orders": 4000, "parts": 1000},
}

DOC_TOKENS = (30, 180)  # inside the quality gate's 20..1000 token band
SOURCES = 20
ZIPF_S = 1.07

# Per-language stopwords head each Zipf ranking; the English list is the
# chain's quality-gate stopword list, so English documents pass its ratio.
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "is", "in", "that", "it", "for",
           "was", "on", "with", "as", "by"],
    "de": ["der", "die", "und", "das", "ist", "zu", "den", "mit", "von",
           "nicht", "sich", "auf"],
    "fr": ["le", "la", "et", "les", "des", "est", "un", "une", "du", "pour",
           "dans", "qui"],
    "es": ["el", "la", "y", "de", "que", "en", "los", "las", "por", "con",
           "una", "para"],
}
SYLLABLES = {
    "en": ["th", "er", "on", "an", "re", "he", "in", "ed", "nd", "ha", "at",
           "en", "es", "or", "nt", "ea", "ti", "st", "io", "le", "ou", "ar",
           "ve", "ly", "ing", "ght", "wh"],
    "de": ["sch", "ein", "ich", "gen", "ung", "ber", "ach", "nen", "lich",
           "keit", "heit", "ste", "auf", "ver", "be", "ge", "ie", "ei", "au",
           "tz", "zw", "kr"],
    "fr": ["eau", "ou", "ai", "ent", "que", "ion", "oir", "eur", "ette",
           "ais", "ier", "re", "de", "me", "ne", "te", "oi", "eux", "ame",
           "ch", "gn", "oux"],
    "es": ["os", "as", "cion", "ar", "ir", "do", "da", "mente", "ado", "ida",
           "es", "co", "ra", "ta", "ca", "ga", "mo", "ez", "ll", "rr", "ue",
           "ja"],
}
# accented letters only the mr_jobs corpus uses (its tokenizer is Unicode)
ACCENTS = {"de": ("u", "ü"), "fr": ("e", "é"), "es": ("n", "ñ")}
CYRILLIC = ["ст", "но", "ра", "ко", "то", "пр", "ни", "ов", "ен", "ли", "ро",
            "ка", "ва", "та", "по", "ре", "ол", "ал", "ть", "на", "ет", "ой",
            "ся", "ый", "ие", "жд", "щи", "ё"]
LANGS = ["en", "de", "fr", "es"]


class Zipf:
    """Rank-frequency sampler over a fixed word list."""

    def __init__(self, words, s=ZIPF_S):
        self.words = words
        acc, self.cum = 0.0, []
        for r in range(len(words)):
            acc += 1.0 / (r + 1) ** s
            self.cum.append(acc)

    def draw(self, rng):
        return self.words[bisect.bisect_left(self.cum, rng.random() * self.cum[-1])]


def _vocab(rng, syllables, head, size):
    seen, words = set(head), list(head)
    while len(words) < size:
        w = "".join(rng.choice(syllables) for _ in range(rng.randint(1, 4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _render(rng, toks):
    """Sentences of lowercase tokens: capitalised starts, commas, periods."""
    out, start = [], True
    for i, t in enumerate(toks):
        w = t.capitalize() if start else t
        start = False
        if i + 1 < len(toks) and rng.random() < 0.08:
            w, start = w + ".", True
        elif rng.random() < 0.05:
            w += ","
        out.append(w)
    return " ".join(out) + "."


def documents(rng, cfg):
    """Rows (doc_id, text, lang, source, n_chars) with planted clusters,
    generated until the texts reach `text_bytes` UTF-8 bytes (so the input
    size, not the document count, is the same for every seed).

    exact_share: token-identical copies of an earlier document.
    near_share: copies with ~1 token in 40 replaced (3-shingle Jaccard
    about 0.85, so LSH finds them and verification keeps them).
    far_share: copies with 1 token in 6 replaced (Jaccard about 0.35:
    some still collide in a band and are then rejected by verification).
    """
    zipfs = {l: Zipf(_vocab(rng, SYLLABLES[l], STOPWORDS[l], 2500)) for l in LANGS}
    other = (1.0 - cfg["en_share"]) / 3
    rows, toks, size = [], [], 0
    while size < cfg["text_bytes"]:
        doc_id = len(rows)
        r = rng.random()
        src = f"src{rng.randrange(SOURCES)}"
        cut = [cfg["exact_share"], cfg["near_share"], cfg["far_share"]]
        if rows and r < cut[0]:
            j = rng.randrange(len(rows))
            rows.append((doc_id, rows[j][1], rows[j][2], src))
            toks.append(toks[j])
            size += len(rows[j][1].encode("utf-8"))
            continue
        if rows and r < cut[0] + cut[1] + cut[2]:
            j = rng.randrange(len(rows))
            lang, t = rows[j][2], list(toks[j])
            every = 40 if r < cut[0] + cut[1] else 6
            for _ in range(max(1, len(t) // every)):
                t[rng.randrange(len(t))] = zipfs[lang].draw(rng)
        else:
            u = rng.random()
            lang = "en" if u < cfg["en_share"] else LANGS[1 + min(2, int((u - cfg["en_share"]) / other))]
            t = [zipfs[lang].draw(rng) for _ in range(rng.randint(*DOC_TOKENS))]
        rows.append((doc_id, _render(rng, t), lang, src))
        toks.append(t)
        size += len(rows[-1][1].encode("utf-8"))
    return rows


def write_documents(path, rows):
    table = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "lang": pa.array([r[2] for r in rows], pa.string()),
        "source": pa.array([r[3] for r in rows], pa.string()),
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
    })
    pq.write_table(table, path)


def write_lineitem(rng, path, cfg):
    """Order -> part edges: 1..7 lines per order, Zipf-popular parts."""
    parts = Zipf(list(range(1, cfg["parts"] + 1)), s=0.9)
    ok, pk, sk, ln, qty = [], [], [], [], []
    for o in range(cfg["orders"]):
        for line in range(1, rng.randint(1, 7) + 1):
            ok.append(4 * o + 1)
            p = parts.draw(rng)
            pk.append(p)
            sk.append(1 + (p * 7 + line) % 100)
            ln.append(line)
            qty.append(float(rng.randint(1, 50)))
    pq.write_table(pa.table({
        "l_orderkey": pa.array(ok, pa.int64()),
        "l_partkey": pa.array(pk, pa.int64()),
        "l_suppkey": pa.array(sk, pa.int64()),
        "l_linenumber": pa.array(ln, pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
    }), path)


def mr_inputs(rng, cfg, out):
    """Writes corpus.txt and temps.txt; returns the generator's tallies."""
    latin = []
    for l in LANGS:
        words = _vocab(rng, SYLLABLES[l], STOPWORDS[l], 6000)
        if l in ACCENTS:
            a, b = ACCENTS[l]
            words = [w.replace(a, b, 1) if i % 5 == 0 else w for i, w in enumerate(words)]
        latin += words
    latin = Zipf(list(dict.fromkeys(latin)))
    cyr = Zipf(_vocab(rng, CYRILLIC, ["и", "в", "не", "на", "что", "он"], 12000))
    counts, size = {}, 0
    with open(os.path.join(out, "corpus.txt"), "w", encoding="utf-8", newline="\n") as f:
        while size < cfg["text_bytes"]:
            z = latin if rng.random() < cfg["latin_line_share"] else cyr
            toks = [z.draw(rng) for _ in range(rng.randint(6, 16))]
            for t in toks:
                counts[t] = counts.get(t, 0) + 1
            line = _render(rng, toks) + "\n"
            f.write(line)
            size += len(line.encode("utf-8"))
    maxes, size = {}, 0
    with open(os.path.join(out, "temps.txt"), "w", encoding="utf-8", newline="\n") as f:
        while size < cfg["temp_bytes"]:
            pairs = []
            for _ in range(rng.randint(40, 160)):
                year, month = rng.randint(1901, 2020), rng.randint(1, 12)
                tenths = rng.randint(-400, 450)
                # whole degrees are written as ints, like the reference fixture
                txt = str(tenths // 10) if tenths % 10 == 0 else f"{tenths / 10:.1f}"
                pairs.append(f"[{year}{month:02d}, {txt}]")
                maxes[year] = max(maxes.get(year, float("-inf")), float(txt))
            line = "[" + ", ".join(pairs) + "]\n"
            f.write(line)
            size += len(line.encode("utf-8"))
    return counts, maxes


def generate(workload, seed, out):
    """Writes the workload's inputs for `seed` into `out`; returns a
    description of what was written (sizes and planted properties)."""
    cfg = WORKLOADS[workload]
    rng = random.Random(f"{workload}:{seed}")
    os.makedirs(out, exist_ok=True)
    info = {"workload": workload, "seed": seed, "gen_version": GEN_VERSION, "config": cfg}
    if workload == "mr_jobs":
        counts, maxes = mr_inputs(rng, cfg, out)
        with open(os.path.join(out, "tallies.json"), "w", encoding="utf-8") as f:
            json.dump({"word_counts": counts, "year_max": {str(k): v for k, v in maxes.items()}},
                      f, ensure_ascii=False, sort_keys=True)
        info["distinct_words"] = len(counts)
        info["tokens"] = sum(counts.values())
        files = ["corpus.txt", "temps.txt"]
    else:
        rows = documents(rng, cfg)
        write_documents(os.path.join(out, "documents.parquet"), rows)
        info["docs"] = len(rows)
        info["distinct_texts"] = len({r[1] for r in rows})
        files = ["documents.parquet"]
        if workload == "text_loops":
            write_lineitem(rng, os.path.join(out, "lineitem.parquet"), cfg)
            files.append("lineitem.parquet")
    # input_bytes counts what the measured passes read
    info["input_bytes"] = sum(os.path.getsize(os.path.join(out, f)) for f in files)
    # inputs of the call a traced run adds after its passes
    for sub in ("chain", "loops"):
        if sub in cfg:
            os.makedirs(os.path.join(out, sub))
            rows = documents(rng, cfg[sub])
            write_documents(os.path.join(out, sub, "documents.parquet"), rows)
            info[f"{sub}_docs"] = len(rows)
            files.append(os.path.join(sub, "documents.parquet"))
            if "orders" in cfg[sub]:
                write_lineitem(rng, os.path.join(out, sub, "lineitem.parquet"), cfg[sub])
                files.append(os.path.join(sub, "lineitem.parquet"))
    info["files"] = {f: _sha256(os.path.join(out, f)) for f in files}
    return info


def _sha256(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()

