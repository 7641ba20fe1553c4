"""Seeded input generators for the benchmark.

Every generator takes the seed as an argument and draws only from its own
``random.Random(seed)``, so the same seed always gives byte-identical files
(``test_gen.py`` pins this). The engine receives only these files.

Generated inputs:

* ``documents.parquet`` -- the fixture table the synthetic graph binding
  reads (``graft.Tables``), shaped like the sf0.1 fixture: 5000 short
  token texts over a 30-word vocabulary.
* ``requests.txt`` -- the QA directive stream (``family=N key='v' ...``).
* ``terms/cls<k>/batch/f<i>.txt`` -- a tagged term export laid out one
  directory per id-class (class = first 60 bits of the term's md5, mod 3),
  the arriving-batch layout of the tagged day-advance lifecycle.
* ``days.json`` -- the class of each day op.
"""

import hashlib
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# The fixture vocabulary: the 5+-letter words become keywords
# (BibGraph.docs), the short ones occur in abstracts only.
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
KEYWORDS = sorted(w for w in VOCAB if len(w) >= 5)
SHORT_WORDS = sorted(w for w in VOCAB if 2 <= len(w) < 5)
LANGS = ["en"] * 4 + ["zh", "es", "fr", "de"]
N_AUTHORS, N_ORGS = 97, 13  # BibGraph.docs: Author_<k % 97>, Org_<k % 13>


def _write_parquet(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def documents(path, seed, n_docs):
    rnd = random.Random(f"documents/{seed}")
    texts = [" ".join(rnd.choice(VOCAB) for _ in range(rnd.randint(10, 100)))
             for _ in range(n_docs)]
    _write_parquet(pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rnd.choice(LANGS) for _ in range(n_docs)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), path)


def days(seed):
    """The tagged lifecycle's day ops: a seeded permutation of the three
    md5 classes over insert, update and delete."""
    ins, upd, dele = random.Random(f"days/{seed}").sample(range(3), 3)
    return {"insert": ins, "update": upd, "delete": dele}


def _authors_of(doc_id):
    """BibGraph.docs' author rule: 1 to 3 authors per document."""
    return [f"Author_{doc_id * (j + 3) % N_AUTHORS}"
            for j in range(doc_id % 3 + 1)]


def requests(path, seed, n_docs, rounds=4):
    """QA directive stream over the documents() graph, in rounds of 18
    requests in a seeded order: one request of each of the 17 families plus
    a second family-13 request, so every round has both the 2-hop template
    and BFS reachability at 2 or 3 hops. Parameters are drawn from the
    graph's own titles, authors, organizations and keywords. One keyword
    request of the four in a round (family 6) names a short word that is no
    keyword but occurs in abstracts, so its empty result takes the
    full-text fallback. Family 11 asks about an author of its first title.
    """
    rnd = random.Random(f"requests/{seed}")
    title = lambda: f"D{rnd.randrange(n_docs)}"
    author = lambda: f"Author_{rnd.randrange(N_AUTHORS)}"
    org = lambda: f"Org_{rnd.randrange(N_ORGS)}"
    keyword = lambda: rnd.choice(KEYWORDS)

    def authored():
        d = rnd.randrange(n_docs)
        return rnd.choice(_authors_of(d)), f"D{d}"

    def request(f):
        if f in (1, 2, 3, 4, 8, 9):
            return f"family={f} title='{title()}'"
        if f in (5, 13, 16):
            return f"family={f} author='{author()}'"
        if f == 6:
            return f"family=6 keyword='{rnd.choice(SHORT_WORDS)}'"
        if f in (10, 14):
            return f"family={f} keyword='{keyword()}'"
        if f in (7, 15):
            return f"family={f} org='{org()}'"
        if f == 11:
            a, t = authored()
            return f"family=11 author='{a}' title='{t}' title2='{title()}'"
        if f == 12:
            return f"family=12 title='{title()}' keyword='{keyword()}'"
        if f == 18:
            return (f"family=13 author='{author()}' "
                    f"hops={rnd.randint(2, 3)}")
        return "family=17"

    lines = []
    for _ in range(rounds):
        kinds = list(range(1, 19))
        rnd.shuffle(kinds)
        lines.extend(request(f) for f in kinds)
    with open(path, "w", encoding="utf-8") as out:
        out.write("\n".join(lines) + "\n")


def md5_class(term, k=3):
    """The engine's term id (first 15 hex digits of md5) mod k."""
    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:15], 16) % k


_SYLLABLES = ("ka ri to mu se na lo vi pe da gu zo fi ne ta ro mi su "
              "ha ke yu wa").split()


def _word(rnd, syllables):
    return "".join(rnd.choice(_SYLLABLES) for _ in range(syllables))


def tagged_terms(root, seed, n_terms, gloss_share=0.15, per_block=20):
    """Tagged term export: ``n_terms`` distinct keyword terms, a share of
    them parenthetical-gloss variants of another term (they encode
    identically and must merge), written as keyword blocks into one
    directory per md5 class."""
    rnd = random.Random(f"terms/{seed}")
    terms, seen = [], set()
    while len(terms) < n_terms:
        if terms and rnd.random() < gloss_share:
            base = rnd.choice(terms).split(" (")[0]
            t = f"{base} ({_word(rnd, 2).upper()})"
        else:
            t = f"{_word(rnd, 2)} {_word(rnd, 3)}"
        if t not in seen:
            seen.add(t)
            terms.append(t)
    by_cls = {0: [], 1: [], 2: []}
    for t in terms:
        by_cls[md5_class(t)].append(t)
    for k, ts in sorted(by_cls.items()):
        d = os.path.join(root, f"cls{k}", "batch")
        os.makedirs(d, exist_ok=True)
        blocks = [ts[i:i + per_block] for i in range(0, len(ts), per_block)]
        per_file = max(1, len(blocks) // 8 + 1)
        for fi in range(0, len(blocks), per_file):
            text = "\n\n".join(
                f"{{Title}}: T{k}_{fi + bi}\n"
                f"{{Keywords}}: {'; '.join(b)}\n{{Year}}: 2024"
                for bi, b in enumerate(blocks[fi:fi + per_file]))
            with open(os.path.join(d, f"f{fi // per_file}.txt"), "w",
                      encoding="utf-8") as out:
                out.write(text + "\n")


def generate(workload, root, seed, sizes):
    """All inputs of one workload under ``root``; ``sizes`` maps the size
    knobs (n_docs, n_terms)."""
    os.makedirs(root, exist_ok=True)
    if workload == "qa_answer":
        documents(os.path.join(root, "sf", "documents.parquet"), seed,
                  sizes["n_docs"])
        requests(os.path.join(root, "requests.txt"), seed, sizes["n_docs"])
    elif workload == "er_crud_days":
        tagged_terms(os.path.join(root, "terms"), seed, sizes["n_terms"])
        with open(os.path.join(root, "days.json"), "w") as out:
            json.dump(days(seed), out, sort_keys=True)
    else:
        raise ValueError(f"unknown workload {workload}")
