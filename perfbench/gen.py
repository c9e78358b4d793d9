"""Seeded input generator for the benchmark.

Everything the workloads feed the program comes from here, as a pure
function of the seed: document trees on disk (HTML/JSP and HWP/HWPX), the
document rows of a serving store, query pools with Zipf-skewed repeats and
the edit batches of the refresh loop. Text is synthesized in Korean,
English and Vietnamese (about 70/25/5) so the recursive splitter sees long
multi-paragraph documents and the language detectors take all three
branches.
"""

from __future__ import annotations

import io
import os
import random
import zipfile
from dataclasses import dataclass, field
from xml.sax.saxutils import escape

from vectordb_etl_spark.sources.cfb_fixtures import make_hwp

# reference probe queries (quality.PROBE_QUERIES plus the org-chart probe)
PROBES = ("서울 사무실 주소", "수강신청방법", "Seoul office address", "조직도")

FOLDERS = ("root", "notice", "academic", "campus-life")
MTIME_BASE = 1_700_000_000
LANG_WEIGHTS = (("korean", 70), ("english", 25), ("vietnamese", 5))
LANG_CYCLE = tuple(x for x, w in LANG_WEIGHTS for _ in range(w // 5))

_KO = (
    "서울 사무실 주소 수강신청 방법 학생 교육 과정 안내 문의 전화 센터 대학교 "
    "연구 조직도 부서 담당 일정 등록 프로그램 신청서 제출 기간 장학금 학과 "
    "교수 강의 시간표 졸업 요건 학점 기숙사 도서관 이용 규정 공지 사항 변경 "
    "행사 참가 모집 결과 발표 상담 예약 온라인 시스템 접수 서류 확인 납부 "
    "등록금 환불 휴학 복학 전공 선택 교양 필수 과목 평가 성적 증명서 발급"
).split()
_KO_END = ("합니다.", "입니다.", "있습니다.", "바랍니다.", "됩니다.")
_KO_JOIN = ("은", "는", "이", "가", "을", "를", "에서", "으로", "의", "와")
_EN = (
    "the office address course registration student program schedule "
    "application deadline campus library service center contact form "
    "department faculty research seminar notice update policy tuition "
    "scholarship housing exam result announcement online system guide "
    "required document submit review approval semester credit graduate "
    "Seoul branch visitor parking hours weekday support team request"
).split()
_VI = (
    "sinh viên đăng ký khóa học văn phòng địa chỉ trường thông tin hướng dẫn "
    "học phí lịch học giảng viên chương trình hồ sơ nộp thời hạn kết quả "
    "thông báo thư viện ký túc xá học bổng phòng đào tạo liên hệ"
).split()
BOILERPLATE = (
    "Copyright © 2024 Example University. All rights reserved.",
    "개인정보처리방침 | 이용약관 | 이메일무단수집거부",
    "주소: 서울특별시 종로구 대학로 1 (우) 03080 대표전화 02-000-0000",
    "본 페이지의 정보는 담당 부서에서 관리합니다.",
)


def _sentence(rng: random.Random, lang: str) -> str:
    n = rng.randint(6, 14)
    if lang == "korean":
        words = [rng.choice(_KO) + rng.choice(_KO_JOIN) for _ in range(n - 1)]
        return " ".join(words) + " " + rng.choice(_KO) + rng.choice(_KO_END)
    pool = _EN if lang == "english" else _VI
    words = [rng.choice(pool) for _ in range(n)]
    # a number keeps sentences distinct without changing the language mix
    words.insert(rng.randint(1, n - 1), str(rng.randint(1, 9999)))
    return " ".join(words).capitalize() + "."


def paragraph(rng: random.Random, lang: str) -> str:
    return " ".join(_sentence(rng, lang) for _ in range(rng.randint(2, 6)))


def document_paragraphs(rng: random.Random, lang: str, target: int) -> list[str]:
    """Paragraphs totalling about ``target`` characters, with a shared
    boilerplate line mixed in now and then."""
    paras: list[str] = []
    size = 0
    while size < target:
        p = (
            rng.choice(BOILERPLATE)
            if paras and rng.random() < 0.15
            else paragraph(rng, lang)
        )
        paras.append(p)
        size += len(p) + 1
    return paras


def profiles(rng: random.Random, n: int) -> list[tuple[str, int]]:
    """(language, length) for ``n`` documents. The languages are 70/25/5
    and the lengths spread evenly over 500–5,000 characters for every
    seed; the seed only shuffles which document gets which, so the amount
    of work does not swing with the seed."""
    langs = [LANG_CYCLE[k % len(LANG_CYCLE)] for k in range(n)]
    lengths = [int(500 + 4500 * (k + 0.5) / n) for k in range(n)]
    rng.shuffle(langs)
    rng.shuffle(lengths)
    return list(zip(langs, lengths))


def pick_language(rng: random.Random) -> str:
    return rng.choices(
        [x for x, _ in LANG_WEIGHTS], [w for _, w in LANG_WEIGHTS]
    )[0]


def html_page(title: str, paras: list[str], jsp: bool) -> str:
    body = "\n".join(f"<p>{escape(p)}</p>" for p in paras)
    head = '<%@ page contentType="text/html; charset=UTF-8" %>\n' if jsp else ""
    return (
        f"{head}<html><head><title>{escape(title)}</title>"
        "<style>p{margin:0}</style></head><body>"
        "<nav>홈 | 학사 | 공지 | Contact</nav>"
        f"<h1>{escape(title)}</h1>\n{body}\n"
        f"<footer>{escape(BOILERPLATE[0])}</footer></body></html>"
    )


def hwpx_bytes(title: str, paras: list[str]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        body = "".join(f"<p>{escape(p)}</p>\n" for p in paras)
        zf.writestr("Contents/section0.xml", f"<doc>{body}</doc>")
        zf.writestr(
            "Contents/meta.xml",
            "<meta xmlns:dc='http://purl.org/dc/elements/1.1/'>"
            f"<dc:title>{escape(title)}</dc:title></meta>",
        )
    return buf.getvalue()


@dataclass
class Tree:
    """A document tree written to disk. ``dups`` maps each planted
    duplicate page's path to the path of the page it copies."""

    root: str
    html_files: list[str] = field(default_factory=list)
    hwp_files: list[str] = field(default_factory=list)
    dups: dict[str, str] = field(default_factory=dict)
    input_bytes: int = 0
    html_bytes: int = 0


def write_tree(root: str, seed: int, n_docs: int) -> Tree:
    """``n_docs`` files spread evenly over the top level and three folders.
    The layout is the same for every seed: file i is HWP/HWPX when
    i % 5 == 1 (1 in 5) and otherwise HTML/JSP, and it is an exact copy of
    an earlier page of its kind when i % 20 is 9 or 16 (1 in 10); the seed
    draws the text, the languages, the extensions and which page a copy
    repeats. Keeping the layout fixed keeps the amount of work steady
    from seed to seed."""
    rng = random.Random(seed)
    tree = Tree(root)
    for folder in FOLDERS:
        os.makedirs(root if folder == "root" else f"{root}/{folder}", exist_ok=True)
    originals: dict[bool, list[tuple[str, bytes]]] = {True: [], False: []}
    for i, (lang, length) in enumerate(profiles(rng, n_docs)):
        folder = FOLDERS[i % len(FOLDERS)]
        d = root if folder == "root" else f"{root}/{folder}"
        is_hwp = i % 5 == 1
        prior = originals[is_hwp]
        if prior and i % 20 in (9, 16):
            src_path, data = rng.choice(prior)
            ext = src_path.rsplit(".", 1)[-1]
            path = f"{d}/copy{i:05d}.{ext}"
            tree.dups[path] = src_path
        else:
            paras = document_paragraphs(rng, lang, length)
            title = paras[0][:40]
            if is_hwp:
                ext = rng.choice(("hwp", "hwpx"))
                data = (
                    make_hwp(paras, title=title)
                    if ext == "hwp"
                    else hwpx_bytes(title, paras)
                )
            else:
                ext = "jsp" if rng.random() < 0.3 else "html"
                data = html_page(title, paras, ext == "jsp").encode()
            path = f"{d}/doc{i:05d}.{ext}"
            prior.append((path, data))
        with open(path, "wb") as f:
            f.write(data)
        # a fixed mtime: the loaders store it, and stored bytes must repeat
        os.utime(path, (MTIME_BASE + i, MTIME_BASE + i))
        tree.input_bytes += len(data)
        tree.html_bytes += 0 if is_hwp else len(data)
        (tree.hwp_files if is_hwp else tree.html_files).append(path)
    return tree


def store_documents(seed: int, n_docs: int) -> list[dict]:
    """Document rows for a serving store, spread evenly over the folders:
    the columns the loaders emit that the chunker and the store use."""
    rng = random.Random(seed)
    return [
        # equal folders, so collection sizes do not swing with the seed
        document_row(rng, f"doc{i:05d}", FOLDERS[i % len(FOLDERS)], lang, length)
        for i, (lang, length) in enumerate(profiles(rng, n_docs))
    ]


def document_row(rng: random.Random, name: str, folder: str, lang: str, length: int) -> dict:
    text = "\n".join(document_paragraphs(rng, lang, length))
    src = f"bench/{folder}/{name}.html"
    return {
        "source": src, "doc_id": src, "filename": f"{name}.html",
        "folder_name": folder, "language": lang, "text": text,
    }


def zipf_pool(rng: random.Random, texts: list[str], n: int, s: float = 1.1) -> list[str]:
    """``n`` draws from ``texts`` with Zipf(s) rank weights: a few texts
    repeat often, most appear once or not at all."""
    weights = [1.0 / (r + 1) ** s for r in range(len(texts))]
    return rng.choices(texts, weights, k=n)


def query_texts(rng: random.Random, docs: list[dict], n: int) -> list[str]:
    """Distinct query candidates: the reference probes, stored sentences
    and fresh sentences in all three languages."""
    out = list(PROBES)
    for d in rng.sample(docs, min(n // 2, len(docs))):
        sent = d["text"].split("\n")[0].split(". ")[0]
        out.append(sent[:60])
    while len(out) < n:
        out.append(query_sentence(rng))
    return list(dict.fromkeys(out))[:n]


def edit_batch(
    rng: random.Random, docs: list[dict], cycle: int, folder: str, n: int
) -> list[dict]:
    """One refresh batch of ``n`` documents in ``folder``: every other one
    is an edit of an existing document of ``docs`` (same source and
    doc_id, new text), the rest are new documents."""
    batch = []
    for j in range(n):
        lang = pick_language(rng)
        row = document_row(rng, f"new{cycle:03d}_{j:02d}", folder, lang, rng.randint(400, 1200))
        if j % 2 == 0 and docs:
            old = rng.choice(docs)
            row.update(source=old["source"], doc_id=old["doc_id"], filename=old["filename"])
        batch.append(row)
    return batch


def query_sentence(rng: random.Random) -> str:
    """A fresh query text in a seeded language."""
    return _sentence(rng, pick_language(rng))[:60]
