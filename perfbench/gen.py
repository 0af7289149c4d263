"""Seeded input generators for the benchmark.

corpus: the documents of a testdata scale-factor directory replicated R
times with fresh doc_ids in a seed-permuted order. Transcripts derive
conv_id = doc_id / 8, so the permutation changes which turns share a
conversation and therefore changes the graph. The other testdata tables
are symlinked beside the generated documents.parquet, because the DuckDB
oracle check registers all ten.

triples: a triple table over G named graphs with all five RDF term kinds
(IRI, blank node, plain, typed and language-tagged literal). Literals carry
quotes, backslashes, tabs, newlines and non-ASCII text. Every blank node
has exactly one (bnode, BID, "<id>") triple, so a round trip that renames
blank nodes can be checked up to a one-to-one renaming.
"""
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "embeddings"]

EX = "http://example.org/bench/"
BID = EX + "vocab/bid"
XSD = "http://www.w3.org/2001/XMLSchema#"
IRI, BNODE, LITERAL = 0, 1, 2


def corpus(sf_dir, out_dir, replicas, seed):
    """Write out_dir/documents.parquet; return its row count."""
    os.makedirs(out_dir, exist_ok=True)
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    copies = pa.concat_tables([docs] * replicas)
    order = list(range(copies.num_rows))
    random.Random(seed).shuffle(order)
    out = copies.take(pa.array(order, pa.int64()))
    out = out.set_column(out.schema.get_field_index("doc_id"), "doc_id",
                         pa.array(range(out.num_rows), pa.int64()))
    pq.write_table(out, os.path.join(out_dir, "documents.parquet"))
    for t in TABLES:
        link = os.path.join(out_dir, f"{t}.parquet")
        src = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(src) and not os.path.lexists(link):
            os.symlink(os.path.abspath(src), link)
    return out.num_rows


_WORDS = ["alpha", "beta", "gamma", "delta", "Straße", "東京", "naïve", "café",
          "Ωmega", "ünïcödé", "x", "graph", "merge", "serialize"]
_LANGS = ["en", "de", "fr", "ja", "en-gb"]
_DTYPES = [XSD + "integer", XSD + "date", XSD + "boolean", EX + "vocab/code"]


def _text(rng):
    words = [rng.choice(_WORDS) for _ in range(rng.randint(1, 5))]
    special = rng.random()
    if special < 0.15:
        words.insert(rng.randint(0, len(words)), 'say "hi"')
    elif special < 0.30:
        words.insert(rng.randint(0, len(words)), "back\\slash")
    elif special < 0.40:
        words.insert(rng.randint(1, len(words)), "tab\there")
    elif special < 0.50:
        words.insert(rng.randint(1, len(words)), "line\nbreak")
    return " ".join(words)


def _typed(rng, dtype):
    if dtype.endswith("integer"):
        return str(rng.randint(-10**6, 10**6))
    if dtype.endswith("date"):
        return f"20{rng.randint(10, 29)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
    if dtype.endswith("boolean"):
        return rng.choice(["true", "false"])
    return f"C-{rng.randint(0, 99999):05d}"


def triples(out_path, n_triples, graphs, seed):
    """Write the triple table to out_path; return its row count."""
    rng = random.Random(seed)
    cols = {k: [] for k in
            ("graph_iri", "s", "s_kind", "p", "o", "o_kind", "o_dtype", "o_lang")}
    seen = set()

    def add(g, s, sk, p, o, ok, od=None, ol=None):
        key = (g, s, sk, p, o, ok, od, ol)
        if key in seen:
            return
        seen.add(key)
        for k, v in zip(cols, key):
            cols[k].append(v)

    per_graph = max(1, n_triples // graphs)
    for g in range(graphs):
        giri = f"{EX}graph/{g}"
        n_subj = max(2, per_graph // 6)
        labels = set()
        target = (g + 1) * per_graph
        while len(cols["s"]) < target:
            i = rng.randrange(n_subj)
            if rng.random() < 0.15:
                s, sk = f"g{g}b{i}", BNODE
                labels.add(s)
            else:
                s, sk = f"{EX}g{g}/s{i}", IRI
            p = f"{EX}vocab/p{rng.randrange(24)}"
            r = rng.random()
            if r < 0.25:
                add(giri, s, sk, p, f"{EX}g{g}/s{rng.randrange(n_subj)}", IRI)
            elif r < 0.35:
                o = f"g{g}b{rng.randrange(n_subj)}"
                labels.add(o)
                add(giri, s, sk, p, o, BNODE)
            elif r < 0.60:
                add(giri, s, sk, p, _text(rng), LITERAL)
            elif r < 0.80:
                dt = rng.choice(_DTYPES)
                add(giri, s, sk, p, _typed(rng, dt), LITERAL, od=dt)
            else:
                add(giri, s, sk, p, _text(rng), LITERAL, ol=rng.choice(_LANGS))
        # the renaming witness: exactly one BID triple per blank node
        for label in sorted(labels):
            add(giri, label, BNODE, BID, label, LITERAL)
    schema = pa.schema([("graph_iri", pa.string()), ("s", pa.string()),
                        ("s_kind", pa.int32()), ("p", pa.string()),
                        ("o", pa.string()), ("o_kind", pa.int32()),
                        ("o_dtype", pa.string()), ("o_lang", pa.string())])
    pq.write_table(pa.table(cols, schema=schema), out_path)
    return len(cols["s"])
