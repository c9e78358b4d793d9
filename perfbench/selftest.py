"""Fast self-test of the input generator and the answer checks, at a tiny
size and without Spark:

    python3 perfbench/selftest.py

Exits 0 and prints ``selftest ok`` when every check holds.
"""

from __future__ import annotations

import hashlib
import os
import random
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

from perfbench import gen, oracle  # noqa: E402
from vectordb_etl_spark.functions.language import detect_language_query  # noqa: E402
from vectordb_etl_spark.sources.html import parse_html  # noqa: E402
from vectordb_etl_spark.sources.hwp import extract_hwp, extract_hwpx  # noqa: E402


def tree_digest(root: str) -> str:
    h = hashlib.md5()
    for d, _, names in sorted(os.walk(root)):
        for n in sorted(names):
            h.update(os.path.relpath(os.path.join(d, n), root).encode())
            with open(os.path.join(d, n), "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def check_generator(tmp: str) -> None:
    a = gen.write_tree(f"{tmp}/a", 7, 60)
    b = gen.write_tree(f"{tmp}/b", 7, 60)
    c = gen.write_tree(f"{tmp}/c", 8, 60)
    assert tree_digest(a.root) == tree_digest(b.root), "same seed, same tree"
    assert tree_digest(a.root) != tree_digest(c.root), "other seed, other tree"
    assert len(a.html_files) + len(a.hwp_files) == 60
    assert 0 < len(a.hwp_files) < len(a.html_files)
    assert a.dups and all(os.path.exists(p) for kv in a.dups.items() for p in kv)
    for dup, orig in a.dups.items():
        with open(dup, "rb") as f1, open(orig, "rb") as f2:
            assert f1.read() == f2.read(), "a planted duplicate is an exact copy"
    # every file parses back to 500–5000 characters of text
    for p in a.html_files + a.hwp_files:
        with open(p, "rb") as f:
            data = f.read()
        if p.endswith((".html", ".jsp")):
            text = parse_html(data.decode())["text"]
        elif p.endswith(".hwpx"):
            text = extract_hwpx(data)["text"]
        else:
            text = extract_hwp(data)["text"]
        assert 400 <= len(text) <= 5600, (p, len(text))
    rows = gen.store_documents(3, 400)
    langs = [r["language"] for r in rows]
    share = {x: langs.count(x) / len(langs) for x, _ in gen.LANG_WEIGHTS}
    assert 0.6 < share["korean"] < 0.8 and 0.15 < share["english"] < 0.35
    assert 0 < share["vietnamese"] < 0.12
    # the query detector sees each language the generator writes
    rng = random.Random(1)
    for lang in ("korean", "english", "vietnamese"):
        hits = sum(detect_language_query(gen.paragraph(rng, lang)) == lang for _ in range(20))
        assert hits >= 18, (lang, hits)
    pool = gen.zipf_pool(random.Random(2), [f"q{i}" for i in range(40)], 400)
    assert pool.count("q0") > 40 > pool.count("q39"), "Zipf repeats"


def check_oracle() -> None:
    rng = np.random.RandomState(0)
    n, dim = 50, 16
    vecs = rng.standard_normal((n, dim))
    rows = [
        {"chunk_id": f"c{i:02d}", "collection": "a" if i % 2 else "b",
         "language": "korean", "chunk_index": i % 4, "embedding": vecs[i]}
        for i in range(n)
    ]
    # two rows with one vector: the tie breaks on chunk_id
    rows[7]["embedding"] = rows[3]["embedding"]
    o = oracle.VectorOracle(rows)
    q = vecs[3] + 0.01 * rng.standard_normal(dim)
    naive = sorted(
        (
            (-round(float(np.dot(v, q) / np.linalg.norm(v) / np.linalg.norm(q)), 6), r["chunk_id"])
            for r in rows for v in [np.asarray(r["embedding"])]
        )
    )[:5]
    want = o.topk(q, 5)
    assert [i for i, _ in want] == [i for _, i in naive]
    assert want[0][0] == "c03" and want[1][0] == "c07"
    assert oracle.same_topk(want, want)
    swapped = [want[1], want[0]] + want[2:]
    assert oracle.same_topk(swapped, want), "order inside a tie is free"
    wrong = want[:4] + [("c49", want[4][1] - 0.5)]
    assert not oracle.same_topk(wrong, want)
    assert not oracle.same_topk(want[:4], want)
    masked = o.topk(q, 5, o.mask(collection="a"))
    assert all(int(i[1:]) % 2 for i, _ in masked)
    scores = o.score_of(q)
    assert oracle.approx_ok(masked, scores, set(o.ids[o.mask(collection="a")]))
    assert not oracle.approx_ok(want, scores, set(o.ids[o.mask(collection="a")]))
    assert oracle.recall(["c03", "x"], ["c03", "c07"]) == 0.5
    assert oracle.dedup_ok([("s1", "A b"), ("s2", "c")], {"s3": "s1"})
    assert not oracle.dedup_ok([("s1", "A  b"), ("s2", "a b")], {})
    assert not oracle.dedup_ok([("s1", "x"), ("s3", "y")], {"s3": "s1"})


def main() -> int:
    with tempfile.TemporaryDirectory(dir=os.path.dirname(os.path.abspath(__file__))) as tmp:
        check_generator(tmp)
    check_oracle()
    print("selftest ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
