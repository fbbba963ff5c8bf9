"""Deterministic synthetic fixture corpus (FIXTURES.md families 1–20).

Everything is generated from a seeded ``numpy.random.RandomState`` — same
seed, byte-identical corpus — so golden-span tests, resume tests and
benchmarks never depend on external data.  Each family exercises a concrete
branch of the reference (citations in FIXTURES.md).
"""

from __future__ import annotations

import math
from typing import Any, Dict, List, Optional

import numpy as np
import pandas as pd

from ..core.xlsx import write_xlsx

SEED = 42

WORDS = [
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
]
JP_WORDS = ["品目", "数量", "金額", "地域", "担当", "備考欄", "合計", "年度"]


def _csv_bytes(rows: List[List[Any]], encoding: str = "utf-8") -> bytes:
    lines = []
    for row in rows:
        cells = []
        for v in row:
            s = "" if v is None else str(v)
            if any(ch in s for ch in ',"\n\r'):
                s = '"' + s.replace('"', '""') + '"'
            cells.append(s)
        lines.append(",".join(cells))
    return ("\n".join(lines) + "\n").encode(encoding)


def _doc(
    doc_id: str,
    fmt: str,
    content: bytes,
    header_start_row: int = 0,
    header_end_row: int = 0,
    data_start_row: int = 0,
    data_end_row: int = 0,
) -> Dict[str, Any]:
    return {
        "doc_id": doc_id,
        "fmt": fmt,
        "content": content,
        "n_bytes": len(content),
        "header_start_row": header_start_row,
        "header_end_row": header_end_row,
        "data_start_row": data_start_row,
        "data_end_row": data_end_row,
    }


def _data_rows(rng: np.random.RandomState, n_rows: int, n_cols: int) -> List[List[Any]]:
    out = []
    for _ in range(n_rows):
        row: List[Any] = []
        for c in range(n_cols):
            if c == 0:
                row.append(WORDS[rng.randint(0, len(WORDS))])
            else:
                row.append(int(rng.randint(0, 1000)))
        out.append(row)
    return out


def _header(n_cols: int) -> List[str]:
    return [f"col_{chr(97 + i)}{i}" for i in range(n_cols)]


# ------------------------------------------------------------- families


def fam_plain(rng, i) -> Dict[str, Any]:
    n_cols = 3 + rng.randint(0, 4)
    rows = [_header(n_cols)] + _data_rows(rng, 5 + rng.randint(0, 20), n_cols)
    return _doc(f"plain{i:05d}", "csv", _csv_bytes(rows))


def fam_multirow_header(rng, i) -> Dict[str, Any]:
    n_cols = 4 + rng.randint(0, 3)
    lvl0 = ["グループA", "", "グループB", ""] + [""] * (n_cols - 4)
    lvl1 = _header(n_cols)
    # blank top-left exercises the "(空白)" placeholder
    if rng.rand() < 0.5:
        lvl0[0] = ""
    rows = [lvl0, lvl1] + _data_rows(rng, 5 + rng.randint(0, 10), n_cols)
    sheets = [{"name": "Sheet1", "rows": rows}]
    return _doc(
        f"mhdr{i:05d}", "xlsx", write_xlsx(sheets),
        header_start_row=1, header_end_row=2,
    )


def fam_annotated(rng, i) -> Dict[str, Any]:
    n_cols = 3 + rng.randint(0, 3)
    n_data = 5 + rng.randint(0, 10)
    rows = (
        [["調査結果の概要", None, None] + [None] * (n_cols - 3)]
        + [[None] * n_cols]
        + [_header(n_cols)]
        + _data_rows(rng, n_data, n_cols)
        + [["注: 単位は千円", None] + [None] * (n_cols - 2)]
    )
    return _doc(
        f"annot{i:05d}", "csv", _csv_bytes(rows),
        header_start_row=3, header_end_row=3,
        data_start_row=4, data_end_row=3 + n_data,
    )


def fam_multi_table(rng, i) -> Dict[str, Any]:
    n_cols = 3
    rows = (
        [_header(n_cols)]
        + _data_rows(rng, 4, n_cols)
        + [[None] * n_cols, [None] * n_cols]
        + [["second", "table", "header"]]
        + _data_rows(rng, 4, n_cols)
    )
    return _doc(f"multi{i:05d}", "csv", _csv_bytes(rows))


def fam_width_mismatch(rng, i) -> Dict[str, Any]:
    n_cols = 5
    rows = [["only", "three", "names", None, None]] + _data_rows(rng, 6, n_cols)
    return _doc(f"wmis{i:05d}", "csv", _csv_bytes(rows))


def fam_degenerate(rng, i) -> Dict[str, Any]:
    variant = i % 3
    if variant == 0:  # empty sheet
        sheets = [{"name": "Sheet1", "rows": []}]
        return _doc(f"degen{i:05d}", "xlsx", write_xlsx(sheets))
    if variant == 1:  # header beyond last row
        rows = [_header(3)] + _data_rows(rng, 2, 3)
        return _doc(
            f"degen{i:05d}", "csv", _csv_bytes(rows), header_start_row=99,
            header_end_row=99,
        )
    # inverted data range
    rows = [_header(3)] + _data_rows(rng, 4, 3)
    return _doc(
        f"degen{i:05d}", "csv", _csv_bytes(rows),
        data_start_row=5, data_end_row=2,
    )


def fam_merged_cells(rng, i) -> Dict[str, Any]:
    n_cols = 4
    rows = [_header(n_cols)] + _data_rows(rng, 6, n_cols)
    sheets = [
        {
            "name": "Sheet1",
            "rows": rows,
            "merged": [(2, 0, 3, 0), (4, 1, 4, 2)],
        }
    ]
    return _doc(f"mrgd{i:05d}", "xlsx", write_xlsx(sheets))


def fam_hidden_dims(rng, i) -> Dict[str, Any]:
    n_cols = 4
    rows = [_header(n_cols)] + _data_rows(rng, 6, n_cols)
    sheets = [
        {
            "name": "Sheet1",
            "rows": rows,
            "hidden_rows": [3],
            "hidden_cols": [2],
        }
    ]
    return _doc(f"hidn{i:05d}", "xlsx", write_xlsx(sheets))


def fam_styled(rng, i) -> Dict[str, Any]:
    n_cols = 4
    rows = [_header(n_cols)] + _data_rows(rng, 6, n_cols)
    sheets = [
        {
            "name": "Sheet1",
            "rows": rows,
            "styled": [
                (2, 1, "bold"),
                (3, 2, "yellow_fill"),
                (4, 0, "red_font"),
                (5, 1, "tiny"),
                (6, 2, "huge"),
            ],
        }
    ]
    return _doc(f"styl{i:05d}", "xlsx", write_xlsx(sheets))


def fam_with_drawing(rng, i) -> Dict[str, Any]:
    n_cols = 3
    rows = [_header(n_cols)] + _data_rows(rng, 4, n_cols)
    sheets = [{"name": "Sheet1", "rows": rows}]
    return _doc(f"draw{i:05d}", "xlsx", write_xlsx(sheets, with_drawing=True))


def fam_dirty_cells(rng, i) -> Dict[str, Any]:
    rows = [
        ["name_col", "memo_col", "num_col"],
        ["a,b", "全角　スペース", 1],
        ["c;d", "丸数字①あり", 2],
        ["e/f", "株式会社㈱", 3],
        ["line1\nline2", "電話℡番号", 4],
        ["normal", "※注意書き", 5],
    ]
    return _doc(f"dirty{i:05d}", "csv", _csv_bytes(rows))


def fam_missing_values(rng, i) -> Dict[str, Any]:
    vocab = ["不明", "該当なし", "n/a", "---", "ー", "？", "null", "未回答"]
    rows = [["item_col", "status_col", "count_col"]]
    for r in range(8):
        rows.append(
            [
                WORDS[rng.randint(0, len(WORDS))],
                vocab[rng.randint(0, len(vocab))] if r % 2 == 0 else "ok",
                int(rng.randint(0, 100)),
            ]
        )
    return _doc(f"miss{i:05d}", "csv", _csv_bytes(rows))


def fam_numeric_dirty(rng, i) -> Dict[str, Any]:
    # 200 rows/column at ok-ratios {0.75, 0.85, 0.995, 1.0} around the
    # reference's 0.8 / 0.99 thresholds
    n = 200
    ratios = [0.75, 0.85, 0.995, 1.0]
    cols: List[List[Any]] = []
    for ratio in ratios:
        n_bad = round(n * (1 - ratio))
        col = [int(rng.randint(0, 1000)) for _ in range(n - n_bad)] + [
            f"bad{j}x" for j in range(n_bad)
        ]
        cols.append(col)
    rows: List[List[Any]] = [["r075_col", "r085_col", "r0995_col", "r100_col"]]
    for r in range(n):
        rows.append([cols[c][r] for c in range(4)])
    return _doc(f"numd{i:05d}", "csv", _csv_bytes(rows))


def fam_freetext_mix(rng, i) -> Dict[str, Any]:
    rows = [
        ["choice_col", "num_col"],
        ["はい", 1],
        ["いいえ", 2],
        ["その他: 自由に書いた", 3],
        ["備考: ここも自由", 4],
    ]
    return _doc(f"free{i:05d}", "csv", _csv_bytes(rows))


def fam_bad_headers(rng, i) -> Dict[str, Any]:
    rows = [["", "A", "B1", "123", "※", "valid_name"]] + [
        [int(rng.randint(0, 9)) for _ in range(6)] for _ in range(5)
    ]
    return _doc(
        f"badh{i:05d}", "csv", _csv_bytes(rows),
        header_start_row=1, header_end_row=1,
    )


def fam_csv_quirks(rng, i) -> Dict[str, Any]:
    if i % 2 == 0:
        rows = [
            ["text_col", "value_col"],
            ["embedded\nnewline", 1],
            ["plain", 2],
        ]
        return _doc(f"quirk{i:05d}", "csv", _csv_bytes(rows))
    rows = [
        ["名称", "値"],
        ["日本語テキスト", 10],
        ["シフトＪＩＳ", 20],
    ]
    return _doc(f"quirk{i:05d}", "csv", _csv_bytes(rows, encoding="shift_jis"))


def fam_long_format(rng, i) -> Dict[str, Any]:
    headers = ["ID", "変数名", "値"] + [f"extra_col{j}" for j in range(8)]
    rows = [headers] + [
        [r, f"var{r % 3}", int(rng.randint(0, 50))] + [0] * 8 for r in range(6)
    ]
    return _doc(f"long{i:05d}", "csv", _csv_bytes(rows))


def fam_whale(rng, i) -> Dict[str, Any]:
    n_cols = 20
    rows = [_header(n_cols)] + _data_rows(rng, 2000, n_cols)
    return _doc(f"whale{i:05d}", "csv", _csv_bytes(rows))


def fam_html(rng, i) -> Dict[str, Any]:
    para = " ".join(WORDS[rng.randint(0, len(WORDS))] for _ in range(40))
    short = " ".join(WORDS[rng.randint(0, len(WORDS))] for _ in range(3))
    html = f"""<!DOCTYPE html>
<html><head><title>doc {i} title</title></head><body>
<nav><a href="/">home</a> <a href="/about">about</a></nav>
<h1>Heading {i}</h1>
<p>{para}</p>
<img src="img/{i}.png">
<p>{para[::-1]}</p>
<div><a href="/x">{short}</a> <a href="/y">{short}</a></div>
<footer>copyright {i}</footer>
</body></html>"""
    return _doc(f"html{i:05d}", "html", html.encode("utf-8"))


def fam_docx(rng, i) -> Dict[str, Any]:
    """WordprocessingML document: title/heading styles, long main prose,
    a short boilerplate note, an embedded image and a 2x3 table —
    exercises the docx layout lane end-to-end."""
    from ..core.docx import write_docx

    para = " ".join(WORDS[rng.randint(0, len(WORDS))] for _ in range(40))
    blocks = [
        ("Title", f"Document {i}"),
        ("Heading1", f"Section {i % 5}"),
        ("", para),
        ("", "note"),
    ]
    tables = [[["col_a", "col_b", "col_c"],
               [str(int(rng.randint(0, 99))) for _ in range(3)]]]
    return _doc(
        f"docx{i:05d}",
        "docx",
        write_docx(blocks, images=[f"media/image{i % 3}.png"], tables=tables),
    )


def fam_pptx(rng, i) -> Dict[str, Any]:
    """PresentationML deck: title/subtitle placeholders, a long body
    bullet, a short one, a picture and a table across two slides —
    exercises the pptx layout lane end-to-end."""
    from ..core.pptx import write_pptx

    body = " ".join(WORDS[rng.randint(0, len(WORDS))] for _ in range(30))
    slides = [
        {
            "title": f"Deck {i}",
            "subtitle": f"Part {i % 4}",
            "bodies": [body, "fin"],
            "images": [f"../media/image{i % 3}.png"],
        },
        {"title": "Appendix", "tables": [[["k", "v"], ["a", "1"]]]},
    ]
    return _doc(f"pptx{i:05d}", "pptx", write_pptx(slides))


def fam_rtf(rng, i) -> Dict[str, Any]:
    """RTF document: long/short paragraphs, an escaped-brace string, a
    unicode word and an embedded picture — exercises the rtf lane."""
    from ..core.rtf import write_rtf

    para = " ".join(WORDS[rng.randint(0, len(WORDS))] for _ in range(35))
    return _doc(
        f"rtf{i:05d}",
        "rtf",
        write_rtf(
            [para, "brief", "naïve {notes}"],
            with_picts=1,
            unicode_demo=True,
        ),
    )


def fam_merged_xls(rng, i) -> Dict[str, Any]:
    """Legacy .xls with merged cells in the body (BIFF8 lane, P7)."""
    from ..core.xls import write_xls

    n_cols = 4
    rows = [_header(n_cols)] + _data_rows(rng, 6, n_cols)
    sheets = [
        {"name": "Sheet1", "rows": rows, "merged": [(2, 0, 3, 0)]}
    ]
    return _doc(f"xmrg{i:05d}", "xls", write_xls(sheets))


def fam_hidden_xls(rng, i) -> Dict[str, Any]:
    """Legacy .xls with hidden row/column (BIFF8 lane, P9)."""
    from ..core.xls import write_xls

    n_cols = 4
    rows = [_header(n_cols)] + _data_rows(rng, 6, n_cols)
    sheets = [
        {"name": "Sheet1", "rows": rows, "hidden_rows": [3], "hidden_cols": [2]}
    ]
    return _doc(f"xhid{i:05d}", "xls", write_xls(sheets))


def fam_pdf(rng, i) -> Dict[str, Any]:
    """Single-page PDF: big title, prose lines, a 3-column x-aligned table
    block, an image XObject — exercises the layout lane (line clustering,
    reading order, heading + table detection)."""
    from ..core.pdf import write_pdf

    items = [
        {"text": f"Report {i}", "x": 72, "y": 720, "size": 20},
        {"text": "This is the opening paragraph line.", "x": 72, "y": 690, "size": 11},
        {"text": "A second prose line follows here.", "x": 72, "y": 675, "size": 11},
    ]
    y = 640
    items.append({"text": "item", "x": 72, "y": y, "size": 11})
    items.append({"text": "qty", "x": 200, "y": y, "size": 11})
    items.append({"text": "price", "x": 320, "y": y, "size": 11})
    for r in range(3):
        y -= 16
        items.append({"text": WORDS[rng.randint(0, len(WORDS))], "x": 72, "y": y, "size": 11})
        items.append({"text": str(int(rng.randint(1, 99))), "x": 200, "y": y, "size": 11})
        items.append({"text": str(int(rng.randint(100, 999))), "x": 320, "y": y, "size": 11})
    items.append({"text": "Closing remark sentence.", "x": 72, "y": y - 40, "size": 11})
    items.append({"image": True})
    return _doc(f"pdf{i:05d}", "pdf", write_pdf(items))


def fam_pdf_flate(rng, i) -> Dict[str, Any]:
    """Real-world-layout PDF: the SAME page content as ``fam_pdf`` but
    Flate-compressed (every production PDF compresses content streams),
    cycling through hex-string text, PNG-predictor rows, and indirect
    /Length references so the corpus exercises each decode path."""
    from ..core.pdf import write_pdf

    items = [
        {"text": f"Compressed Report {i}", "x": 72, "y": 720, "size": 20},
        {"text": "Opening paragraph of the compressed page.", "x": 72, "y": 690, "size": 11},
    ]
    y = 650
    items.append({"text": "name", "x": 72, "y": y, "size": 11})
    items.append({"text": "value", "x": 220, "y": y, "size": 11})
    for r in range(3):
        y -= 16
        items.append({"text": WORDS[rng.randint(0, len(WORDS))], "x": 72, "y": y, "size": 11})
        items.append({"text": str(int(rng.randint(0, 999))), "x": 220, "y": y, "size": 11})
    items.append({"image": True})
    variant = i % 4
    blob = write_pdf(
        items,
        compress=True,
        predictor_columns=24 if variant == 1 else None,
        hex_strings=variant == 2,
        indirect_length=variant == 3,
    )
    return _doc(f"pdfz{i:05d}", "pdf", blob)


CJK_WORDS = [
    "売上", "利益", "合計", "前年比", "概況", "統計", "報告", "資料",
    "部門", "地域", "四半期", "実績",
]


def fam_pdf_cjk(rng, i) -> Dict[str, Any]:
    """CJK PDF: Type0 composite font with an embedded /ToUnicode CMap
    (2-byte CID hex strings — the structure every real Japanese PDF
    producer writes), cycling the text-bearing stream filters
    (Flate, LZW, ASCII85+Flate, ASCIIHex) so the whole decode matrix
    flows through the end-to-end job."""
    from ..core.pdf import write_pdf

    items = [
        {"text": f"年次報告書 {i}", "x": 72, "y": 720, "size": 20},
        {"text": "日本語の本文行がここに入ります。", "x": 72, "y": 690, "size": 11},
    ]
    y = 650
    for col, x in (("項目", 72), ("数量", 200), ("金額", 320)):
        items.append({"text": col, "x": x, "y": y, "size": 11})
    for _ in range(3):
        y -= 16
        items.append({"text": CJK_WORDS[rng.randint(0, len(CJK_WORDS))],
                      "x": 72, "y": y, "size": 11})
        items.append({"text": str(int(rng.randint(1, 99))), "x": 200, "y": y, "size": 11})
        items.append({"text": str(int(rng.randint(100, 999))), "x": 320, "y": y, "size": 11})
    items.append({"text": "結びの一文です。", "x": 72, "y": y - 40, "size": 11})
    variant = i % 4
    kw = [
        dict(compress=True),
        dict(content_filters=["LZWDecode"]),
        dict(content_filters=["ASCII85Decode", "FlateDecode"]),
        dict(content_filters=["ASCIIHexDecode"]),
    ][variant]
    return _doc(f"pdfcjk{i:05d}", "pdf", write_pdf(items, **kw))


def fam_multisheet_codebook(rng, i) -> Dict[str, Any]:
    """Two-sheet workbook: data sheet + a コード表 codebook sheet —
    exercises sheet enumeration (S4) and the codebook classifier (X-04)."""
    n_cols = 3
    data_rows = [_header(n_cols)] + [
        [WORDS[rng.randint(0, len(WORDS))], int(rng.randint(1, 4)),
         int(rng.randint(0, 100))]
        for _ in range(6)
    ]
    code_rows = [
        ["コード表", None],
        ["status_code", "1=有効 2=無効 3=保留"],
    ]
    sheets = [
        {"name": "データ", "rows": data_rows},
        {"name": "コード表", "rows": code_rows},
    ]
    return _doc(f"cbook{i:05d}", "xlsx", write_xlsx(sheets))


def fam_code_mix(rng, i) -> Dict[str, Any]:
    """Choice column mixing digit codes with labels (X-03)."""
    rows = [["answer_col", "num_col"]]
    opts = ["1", "2", "わからない"]
    for r in range(8):
        rows.append([opts[rng.randint(0, len(opts))], int(rng.randint(0, 50))])
    rows.append(["わからない", 0])  # guarantee the digit/label mix
    return _doc(f"cmix{i:05d}", "csv", _csv_bytes(rows))


def fam_ods(rng, i) -> Dict[str, Any]:
    """OpenDocument spreadsheet with the full side-channel: merged range,
    hidden row/col and decoration styles — exercises the ods grid lane
    through the same modern-workbook check branches as xlsx."""
    from ..core.odf import write_ods

    n_cols = 4
    rows = [_header(n_cols)] + _data_rows(rng, 6, n_cols)
    sheets = [
        {
            "name": "Sheet1",
            "rows": rows,
            "merged": [(2, 0, 3, 0)],
            "hidden_rows": [4],
            "hidden_cols": [3],
            "styled": [(2, 1, "bold"), (3, 2, "yellow_fill")],
        }
    ]
    return _doc(f"ods{i:05d}", "ods", write_ods(sheets))


def fam_xlsb(rng, i) -> Dict[str, Any]:
    """Excel Binary Workbook with the full side-channel: merged range,
    hidden row/col and decoration styles — exercises the BIFF12 grid
    lane through the same modern-workbook check branches as xlsx (mixed
    value types ride RK/real/bool records, strings split between the
    shared table and inline records by construction)."""
    from ..core.xlsb import write_xlsb

    n_cols = 4
    rows = [_header(n_cols)] + _data_rows(rng, 6, n_cols)
    rows.append(["extra", int(rng.randint(0, 500)),
                 float(rng.randint(0, 100)) + 0.5, True])
    sheets = [
        {
            "name": "データ",
            "rows": rows,
            "merged": [(2, 0, 3, 0)],
            "hidden_rows": [4],
            "hidden_cols": [3],
            "styled": [(2, 1, "bold"), (3, 2, "yellow_fill")],
        }
    ]
    return _doc(f"xlsb{i:05d}", "xlsb", write_xlsb(sheets))


def fam_odt(rng, i) -> Dict[str, Any]:
    """OpenDocument text: title/heading, span-split main prose, a short
    boilerplate note, a table and an embedded image — the odt layout
    lane end-to-end."""
    from ..core.odf import write_odt

    para = " ".join(WORDS[rng.randint(0, len(WORDS))] for _ in range(40))
    # split the prose mid-word across two text:span runs
    cut = len(para) // 2
    blocks = [
        ("Title", f"Document {i}"),
        ("Heading1", f"Section {i % 5}"),
        ("", [para[:cut], para[cut:]]),
        ("", "note"),
    ]
    tables = [[["col_a", "col_b", "col_c"],
               [str(int(rng.randint(0, 99))) for _ in range(3)]]]
    return _doc(
        f"odt{i:05d}",
        "odt",
        write_odt(blocks, images=[f"Pictures/img{i % 3}.png"], tables=tables),
    )


def fam_epub(rng, i) -> Dict[str, Any]:
    """EPUB: two XHTML chapters in spine order plus a non-linear cover
    that must not be extracted — drives the OCF/OPF container walk on
    top of the HTML lane."""
    from ..core.epub import write_epub

    para = " ".join(WORDS[rng.randint(0, len(WORDS))] for _ in range(40))
    ch = lambda t, p: (  # noqa: E731
        f"<html><body><h1>{t}</h1><p>{p}</p>"
        f'<img src="img/{i}.png"></body></html>'
    ).encode()
    cover = b"<html><body><p>COVER ART ONLY</p></body></html>"
    return _doc(
        f"epub{i:05d}",
        "epub",
        write_epub(
            [ch(f"Chapter 1 of {i}", para), ch(f"Chapter 2 of {i}", para[::-1])],
            non_linear=[cover],
        ),
    )


def fam_md(rng, i) -> Dict[str, Any]:
    """README-style Markdown: title/heading, prose with inline markup,
    list items, fenced code, a GFM pipe table and an image — drives the
    md lane (blocks, inline cleanup, table grids)."""
    para = " ".join(WORDS[rng.randint(0, len(WORDS))] for _ in range(35))
    short = " ".join(WORDS[rng.randint(0, len(WORDS))] for _ in range(3))
    md = f"""# Readme {i}

{para} with a [link](http://ex.example/{i}) and **bold** text.

## Usage {i}

- {short}
- step two of {i}

```
make build {i}
```

| name | qty |
|------|----:|
| item{i} | {rng.randint(1, 99)} |
| other | {rng.randint(1, 99)} |

![figure {i}](img/{i}.png)
"""
    return _doc(f"md{i:05d}", "md", md.encode("utf-8"))


def fam_ipynb(rng, i) -> Dict[str, Any]:
    """Jupyter notebook: markdown title cell, prose, a code cell with a
    stream output and an execute_result, an error cell with an ANSI
    traceback, and a display_data PNG output — drives the ipynb lane
    (cell dispatch, output kinds, media refs, list-form sources)."""
    import json as _json

    para = " ".join(WORDS[rng.randint(0, len(WORDS))] for _ in range(25))
    nb = {
        "nbformat": 4,
        "nbformat_minor": 5,
        "metadata": {"kernelspec": {"name": "python3"}},
        "cells": [
            {
                "cell_type": "markdown",
                "metadata": {},
                "source": [f"# Notebook {i}\n", "\n", f"{para}\n"],
            },
            {
                "cell_type": "code",
                "metadata": {},
                "execution_count": 1,
                "source": [f"x = {i}\n", "print(x * 2)\n", "x + 1"],
                "outputs": [
                    {
                        "output_type": "stream",
                        "name": "stdout",
                        "text": [f"{i * 2}\n"],
                    },
                    {
                        "output_type": "execute_result",
                        "execution_count": 1,
                        "metadata": {},
                        "data": {"text/plain": [f"{i + 1}"]},
                    },
                ],
            },
            {
                "cell_type": "code",
                "metadata": {},
                "execution_count": 2,
                "source": f"raise ValueError({i})",
                "outputs": [
                    {
                        "output_type": "error",
                        "ename": "ValueError",
                        "evalue": str(i),
                        "traceback": [
                            "\x1b[0;31mValueError\x1b[0m: " + str(i)
                        ],
                    }
                ],
            },
            {
                "cell_type": "code",
                "metadata": {},
                "execution_count": 3,
                "source": "plot()",
                "outputs": [
                    {
                        "output_type": "display_data",
                        "metadata": {},
                        "data": {
                            "image/png": "iVBORw0KGgo=",
                            "text/plain": ["<Figure>"],
                        },
                    }
                ],
            },
        ],
    }
    return _doc(
        f"nb{i:05d}", "ipynb", _json.dumps(nb).encode("utf-8")
    )


def fam_subtitles(rng, i) -> Dict[str, Any]:
    """Timed captions: SRT for even i, WebVTT for odd — drives the
    subtitle lane (cue timing → media_ref, tag strip, NOTE skip) and
    the transcript-window operator downstream."""
    n_cues = 3 + int(rng.randint(0, 3))
    words = [WORDS[rng.randint(0, len(WORDS))] for _ in range(n_cues * 3)]
    cues = []
    t = int(rng.randint(0, 2000))
    for j in range(n_cues):
        start, end = t, t + 1500 + int(rng.randint(0, 1000))
        cues.append((start, end, " ".join(words[j * 3:j * 3 + 3])))
        t = end + int(rng.randint(100, 800))

    def _srt_ts(ms):
        s, ms = divmod(ms, 1000)
        m, s = divmod(s, 60)
        h, m = divmod(m, 60)
        return f"{h:02d}:{m:02d}:{s:02d},{ms:03d}"

    if i % 2 == 0:
        body = "\n\n".join(
            f"{j + 1}\n{_srt_ts(a)} --> {_srt_ts(b)}\n<i>{txt}</i>"
            for j, (a, b, txt) in enumerate(cues)
        )
        return _doc(f"st{i:05d}", "srt", (body + "\n").encode("utf-8"))
    body = "WEBVTT\n\nNOTE generated fixture\n\n" + "\n\n".join(
        f"{_srt_ts(a).replace(',', '.')} --> "
        f"{_srt_ts(b).replace(',', '.')} align:start\n{txt}"
        for (a, b, txt) in cues
    )
    return _doc(f"st{i:05d}", "vtt", (body + "\n").encode("utf-8"))


def fam_latex(rng, i) -> Dict[str, Any]:
    """arXiv-style paper fragment: title/sections, inline markup +
    citations, display math, verbatim, a tabular and a figure — drives
    the tex lane (cleanup, math/code spans, float caption→media
    alignment, grid extraction)."""
    para = " ".join(WORDS[rng.randint(0, len(WORDS))] for _ in range(30))
    tex = (
        f"\\documentclass{{article}}\n"
        f"\\title{{Study {i}}}\n"
        f"\\begin{{document}}\n\\maketitle\n"
        f"\\section{{Intro {i}}}\n"
        f"{para} \\textbf{{boldly}} stated~\\cite{{ref{i}}}.\n\n"
        f"\\begin{{equation}}\nx_{{{i}}} = {i} + y\n\\end{{equation}}\n"
        f"\\begin{{verbatim}}\nrun --seed {i}\n\\end{{verbatim}}\n"
        f"\\begin{{figure}}\n"
        f"\\includegraphics{{fig/{i}.png}}\n"
        f"\\caption{{Trend {i}}}\n\\end{{figure}}\n"
        f"\\begin{{tabular}}{{lr}}\nkey & val \\\\\n"
        f"a & {int(rng.randint(1, 99))} \\\\\n"
        f"b & {int(rng.randint(1, 99))} \\\\\n\\end{{tabular}}\n"
        f"\\end{{document}}\n"
    )
    return _doc(f"tx{i:05d}", "tex", tex.encode("utf-8"))


def fam_rst(rng, i) -> Dict[str, Any]:
    """Sphinx-style .rst page: over/underlined title, section, inline
    markup + hyperlink, bullet list, figure with caption, code-block,
    literal block and a grid table — drives the RST lane end-to-end."""
    para = " ".join(WORDS[rng.randint(0, len(WORDS))] for _ in range(30))
    a, b = int(rng.randint(1, 99)), int(rng.randint(1, 99))
    body = (
        f"{'=' * 14}\nRelease {i:05d}\n{'=' * 14}\n\n"
        f"{para} with a `link <https://example.com/{i}>`_ inline.\n\n"
        f"Changes\n-------\n\n"
        f"- first change entry\n- second change entry\n\n"
        f".. figure:: plots/fig{i % 3}.png\n"
        f"   :alt: trend art\n\n"
        f"   Figure {i}: the trend.\n\n"
        f".. code-block:: python\n\n"
        f"   run(seed={i})\n\n"
        f"Metrics follow::\n\n"
        f"   raw {i}\n\n"
        f"+------+------+\n"
        f"| key  | val  |\n"
        f"+======+======+\n"
        f"| a    | {a:<4} |\n"
        f"+------+------+\n"
        f"| b    | {b:<4} |\n"
        f"+------+------+\n"
    )
    return _doc(f"rs{i:05d}", "rst", body.encode("utf-8"))


def fam_adoc(rng, i) -> Dict[str, Any]:
    """AsciiDoc manual page: doc title, section, inline markup + link,
    list, captioned image, source listing and a psv table — drives the
    adoc lane end-to-end."""
    para = " ".join(WORDS[rng.randint(0, len(WORDS))] for _ in range(30))
    a, b = int(rng.randint(1, 99)), int(rng.randint(1, 99))
    body = (
        f"= Guide {i:05d}\n\n"
        f"{para} with link:https://example.com/{i}[a label] inline.\n\n"
        f"== Steps\n\n"
        f"* first step entry\n* second step entry\n\n"
        f".Diagram {i}\n"
        f"image::figs/d{i % 3}.png[diagram alt]\n\n"
        f"[source,sh]\n----\nrun --seed {i}\n----\n\n"
        f"|===\n| key | val\n\n| a | {a}\n\n| b | {b}\n|===\n"
    )
    return _doc(f"ad{i:05d}", "adoc", body.encode("utf-8"))


def fam_dialect(rng, i) -> Dict[str, Any]:
    """Delimiter-dialect tabular files: alternating true TSV (.tsv) and
    semicolon-separated .csv exports (the European spreadsheet
    default) — drives the dialect sniffer (comma files are already
    every other csv family, pinning the parity guard)."""
    rows = [["id", "name", "score"]]
    for r in range(4):
        rows.append([str(r + 1),
                     WORDS[rng.randint(0, len(WORDS))],
                     str(int(rng.randint(0, 99)))])
    if i % 2 == 0:
        body = "\n".join("\t".join(r) for r in rows) + "\n"
        return _doc(f"dl{i:05d}", "tsv", body.encode("utf-8"))
    body = "\n".join(";".join(r) for r in rows) + "\n"
    return _doc(f"dl{i:05d}", "csv", body.encode("utf-8"))


def fam_eml(rng, i) -> Dict[str, Any]:
    """Mail-archive message: RFC 2047 subject, multipart/alternative
    (plain preferred) with quoted-reply + signature boilerplate and an
    attachment — drives the email lane end-to-end.  Every 3rd message
    is HTML-only (body routes through the HTML lane)."""
    from ..core.eml import write_eml

    para = " ".join(WORDS[rng.randint(0, len(WORDS))] for _ in range(30))
    if i % 3 == 0:
        return _doc(
            f"ml{i:05d}", "eml",
            write_eml(
                f"Thread {i} (html)", f"u{i}@example.com",
                "list@example.com",
                html=(f"<html><body><h1>Update {i}</h1>"
                      f"<p>{para}</p></body></html>"),
            ),
        )
    return _doc(
        f"ml{i:05d}", "eml",
        write_eml(
            f"Thread {i}", f"u{i}@example.com", "list@example.com",
            plain=(f"{para}\n\n> quoted reply {i}\nACK.\n\n"
                   f"-- \nuser {i}"),
            attachments=[(f"patch{i}.diff", b"--- a\n+++ b\n")],
        ),
    )


def fam_ppt(rng, i) -> Dict[str, Any]:
    """Legacy PowerPoint binary: two slides with title/body/notes text
    through both TextBytesAtom (latin) and TextCharsAtom (UTF-16 via
    CJK every 3rd deck) — drives the .ppt record-walk lane."""
    from ..core.ppt import write_ppt

    body = " ".join(WORDS[rng.randint(0, len(WORDS))] for _ in range(25))
    second = (
        f"日本語の要点 {i} を含む確認スライドの本文です"
        if i % 3 == 0
        else f"follow-up point {int(rng.randint(0, 99))} with detail"
    )
    slides = [
        [("title", f"Deck {i}"), ("body", body), ("notes", "presenter note")],
        [("title", "Next"), ("body", second), ("other", "fin")],
    ]
    return _doc(f"ppt{i:05d}", "ppt", write_ppt(slides))


def fam_hocr(rng, i) -> Dict[str, Any]:
    """OCR'd scan (hOCR microformat): header line, body paragraphs with
    per-word confidences, a photo region with trailing caption and a
    low-confidence smudge line — drives the hocr lane + the
    ocr_conf_stats quality signal end-to-end."""
    from ..core.hocr import write_hocr

    para = " ".join(WORDS[rng.randint(0, len(WORDS))] for _ in range(20))
    confs = [int(80 + rng.randint(0, 20)) for _ in range(20)]
    blocks = [
        ("heading", f"Scanned Chapter {i}", (100, 80, 2300, 160), [96, 97, 95]),
        ("para", para, (100, 200, 2300, 600), confs),
        ("photo", None, (100, 700, 1200, 1500), []),
        ("caption", f"Plate {i}", (100, 1520, 1200, 1570), [90, 91]),
        ("para", "smudge ink blot", (100, 1600, 900, 1650),
         [30, 25, 40]),
    ]
    return _doc(
        f"ocr{i:05d}", "hocr",
        write_hocr([{"image": f"scan_{i}.png", "blocks": blocks}]),
    )


def fam_wiki(rng, i) -> Dict[str, Any]:
    """Encyclopedia article in MediaWiki wikitext: infobox template
    (stripped), bold lead with links and refs, sections, an image with
    caption, a list, a wikitable and a category — drives the wiki
    source lane end-to-end.  Every 5th article is a redirect."""
    if i % 5 == 4:
        return _doc(f"wk{i:05d}", "wiki",
                    f"#REDIRECT [[Article {i - 1}]]".encode("utf-8"))
    para = " ".join(WORDS[rng.randint(0, len(WORDS))] for _ in range(35))
    art = (
        f"= Article {i} =\n\n"
        f"{{{{Infobox thing\n| name = Thing {i}\n| count = {i}\n}}}}\n"
        f"'''Article {i}''' covers [[topic {i % 7}|a topic]]."
        f"<ref>src {i}</ref> {para}\n\n"
        f"== Details ==\n"
        f"[[File:art{i % 3}.png|thumb|Figure for article {i}]]\n"
        f"* first point\n* second point\n\n"
        '{| class="wikitable"\n'
        "! key !! val\n|-\n"
        f"| a || {int(rng.randint(1, 99))}\n|-\n"
        f"| b || {int(rng.randint(1, 99))}\n"
        "|}\n\n"
        f"[[Category:Fixtures]]\n"
    )
    return _doc(f"wk{i:05d}", "wiki", art.encode("utf-8"))


def fam_doc(rng, i) -> Dict[str, Any]:
    """Legacy Word 97 binary: heading styles (istd), long main prose in
    split pieces (mid-word piece boundary), a hyperlink field whose code
    must not leak, a real table (cell marks + TTP rows), an inline
    object anchor and footnote/header boilerplate — exercises the .doc
    piece-table + PAPX lane end-to-end.  Every 3rd document switches to
    a UTF-16 piece via CJK text; every 4th uses the 0Table stream."""
    from ..core.doc import write_doc

    para = " ".join(WORDS[rng.randint(0, len(WORDS))] for _ in range(40))
    blocks = [
        ("heading", 1, f"Memo {i}"),
        ("para", para),
        ("field", 'HYPERLINK "http://example.com/%d"' % i,
         f"linked source {i}"),
        ("table", [["metric", "value"],
                   ["count", str(int(rng.randint(0, 99)))]]),
        ("media",),
        ("ftn", f"footnote {i}"),
        ("hdd", "running header"),
    ]
    if i % 3 == 0:
        blocks.insert(2, ("para", f"日本語の補足段落 {i} を含む確認用の本文です"))
    return _doc(
        f"word{i:05d}", "doc",
        write_doc(
            blocks,
            piece_split=8,
            table_stream="0Table" if i % 4 == 0 else "1Table",
        ),
    )


def fam_org(rng, i) -> Dict[str, Any]:
    """Org-mode notes page: #+TITLE keyword, headline with TODO/tags,
    inline markup + link, list, src block, captioned image and a table
    with a rule row — drives the org lane end-to-end."""
    para = " ".join(WORDS[rng.randint(0, len(WORDS))] for _ in range(30))
    a, b = int(rng.randint(1, 99)), int(rng.randint(1, 99))
    body = (
        f"#+TITLE: Notes {i:05d}\n\n"
        f"{para} with a [[https://example.com/{i}][label]] inline.\n\n"
        f"* TODO Steps :build:\n\n"
        f"- first step entry\n- second step entry\n\n"
        f"#+BEGIN_SRC sh\nrun --seed {i}\n#+END_SRC\n\n"
        f"#+CAPTION: Diagram {i}\n"
        f"[[file:figs/d{i % 3}.png][diagram alt]]\n\n"
        f"| key | val |\n|-----+-----|\n| a | {a} |\n| b | {b} |\n"
    )
    return _doc(f"og{i:05d}", "org", body.encode("utf-8"))


def fam_txt(rng, i) -> Dict[str, Any]:
    """Plain-text report: prose paragraphs around a space-aligned
    fixed-width table with a dashed ruler — drives the txt lane's
    gutter detection end-to-end."""
    from ..core.fwtext import render_fw_table

    para = " ".join(WORDS[rng.randint(0, len(WORDS))] for _ in range(30))
    a, b = int(rng.randint(1, 99)), int(rng.randint(1, 99))
    grid = [["key", "val"], ["a", str(a)], ["b", str(b)]]
    body = (
        f"report {i:05d}\n\n{para}\n\n"
        f"{render_fw_table(grid)}\n"
        f"short footer note\n"
    )
    return _doc(f"tx{i:05d}", "txt", body.encode("utf-8"))


FAMILIES = [
    ("plain_single_header", fam_plain),
    ("multirow_header", fam_multirow_header),
    ("annotated", fam_annotated),
    ("multi_table", fam_multi_table),
    ("width_mismatch", fam_width_mismatch),
    ("degenerate", fam_degenerate),
    ("merged_cells", fam_merged_cells),
    ("hidden_dims", fam_hidden_dims),
    ("styled", fam_styled),
    ("with_drawing", fam_with_drawing),
    ("dirty_cells", fam_dirty_cells),
    ("missing_values", fam_missing_values),
    ("numeric_dirty", fam_numeric_dirty),
    ("freetext_mix", fam_freetext_mix),
    ("bad_headers", fam_bad_headers),
    ("csv_quirks", fam_csv_quirks),
    ("long_format", fam_long_format),
    ("html_docs", fam_html),
    ("multisheet_codebook", fam_multisheet_codebook),
    ("code_mix", fam_code_mix),
    ("pdf_docs", fam_pdf),
    ("pdf_flate_docs", fam_pdf_flate),
    ("pdf_cjk_docs", fam_pdf_cjk),
    ("docx_docs", fam_docx),
    ("merged_cells_xls", fam_merged_xls),
    ("hidden_dims_xls", fam_hidden_xls),
    ("pptx_docs", fam_pptx),
    ("rtf_docs", fam_rtf),
    ("ods_docs", fam_ods),
    ("odt_docs", fam_odt),
    ("epub_docs", fam_epub),
    ("md_docs", fam_md),
    ("ipynb_docs", fam_ipynb),
    ("subtitle_docs", fam_subtitles),
    ("latex_docs", fam_latex),
    ("doc_docs", fam_doc),
    ("wiki_docs", fam_wiki),
    ("hocr_docs", fam_hocr),
    ("ppt_docs", fam_ppt),
    ("eml_docs", fam_eml),
    ("dialect_docs", fam_dialect),
    ("rst_docs", fam_rst),
    ("adoc_docs", fam_adoc),
    ("org_docs", fam_org),
    ("txt_docs", fam_txt),
    ("xlsb_docs", fam_xlsb),
]


def gen_doc(i: int, seed: int = SEED, whale_every: Optional[int] = 97,
            chosen=None) -> Dict[str, Any]:
    """Deterministically generate fixture document #i (index-keyed RNG, so
    generation is embarrassingly parallel).  The RNG seed is taken mod 2**32
    (numpy's range); below that it is unchanged, so every seed that worked
    before still yields the same document."""
    rng = np.random.RandomState((seed * 1_000_003 + i) % 2**32)
    fams = chosen or FAMILIES
    if whale_every and i > 0 and i % whale_every == 0:
        d = fam_whale(rng, i)
    else:
        _, fam = fams[i % len(fams)]
        d = fam(rng, i)
    d["doc_id"] = f"doc{i:08d}_{d['doc_id']}"
    # rule checks target the first sheet unless a fixture says otherwise
    # (RAW_SCHEMA sheet_idx hint; set centrally so the local and Spark
    # generation paths stay schema-identical)
    d.setdefault("sheet_idx", 0)
    return d


def gen_corpus_spark(spark, n_docs: int, seed: int = SEED, partitions: int = 32):
    """Distributed fixture generation: spark.range → mapInPandas running
    ``gen_doc`` per index.  Keeps corpus synthesis off the driver so large
    bench corpora materialize at cluster speed."""
    from ..model import RAW_SCHEMA

    def kernel(batches):
        for batch in batches:
            docs = [gen_doc(int(i), seed) for i in batch["id"]]
            yield pd.DataFrame(docs)

    return (
        spark.range(0, n_docs, numPartitions=partitions)
        .mapInPandas(kernel, schema=RAW_SCHEMA)
    )


def gen_corpus(
    n_docs: int,
    seed: int = SEED,
    whale_every: Optional[int] = 97,
    families: Optional[List[str]] = None,
) -> pd.DataFrame:
    """Generate a deterministic docs_raw DataFrame of ``n_docs`` documents
    cycling through the fixture families (plus occasional whales for skew
    realism).  Same (n_docs, seed) → byte-identical output."""
    chosen = (
        [f for f in FAMILIES if f[0] in set(families)] if families else FAMILIES
    )
    # one per-index body, shared with the distributed path
    # (gen_corpus_spark) — duplicated seeding/cycling logic would let the
    # local and Spark-generated corpora silently diverge
    return pd.DataFrame(
        [gen_doc(i, seed, whale_every, chosen) for i in range(n_docs)]
    )


def gen_crawl_warc_files(
    out_dir: str, n_pages: int = 600, per_file: int = 200
) -> Dict[str, int]:
    """Deterministic synthetic crawl as REAL ``.warc.gz`` files for the
    end-to-end crawl-curation job (jobs/crawl.py --gen): 20 domains,
    one robots.txt per domain (``Disallow: /private/`` with an
    ``Allow: /private/open/`` carve-out), pages whose hyperlink
    structure is doc-index arithmetic (page i → (7i+3) mod N and
    (13i+5) mod N), every i % 7 == 3 page under the disallowed prefix
    (i % 14 == 3 under the allowed carve-out), and every i % 11 == 0
    page ALSO crawled under a messy duplicate URL (uppercase host +
    utm param) that canonicalizes onto the clean one.

    Returns the expected stat counts so tests and the job's JSON line
    can assert the pipeline's filter arithmetic exactly."""
    import os as _os

    from ..core.warc import (
        encode_http_response,
        encode_warc_gz,
        encode_warc_record,
    )

    _os.makedirs(out_dir, exist_ok=True)
    n_domains = 20

    def _host(i: int) -> str:
        return f"site{i % n_domains}.example.com"

    def _path(i: int) -> str:
        if i % 14 == 3:
            return f"/private/open/{i}"
        if i % 7 == 3:
            return f"/private/{i}"
        return f"/docs/{i}"

    def _url(i: int) -> str:
        return f"http://{_host(i)}{_path(i)}"

    records: List[bytes] = []
    for d in range(n_domains):
        body = (
            b"User-agent: *\r\nDisallow: /private/\r\n"
            b"Allow: /private/open/\r\n"
        )
        records.append(
            encode_warc_record(
                "response",
                f"http://site{d}.example.com/robots.txt",
                f"<urn:uuid:robots-{d}>",
                "2026-01-01T00:00:00Z",
                encode_http_response(body, content_type="text/plain"),
            )
        )

    expected = {
        "robots": n_domains, "pages": 0, "dups": 0, "blocked": 0,
        "sd_jsonld": 0, "sd_microdata": 0, "redirects": 0,
    }

    def _redirect_record(src: str, location: str, tag: str, status=301):
        reason = {301: "Moved Permanently", 302: "Found"}[status]
        payload = (
            f"HTTP/1.1 {status} {reason}\r\nLocation: {location}\r\n"
            "Content-Length: 0\r\n\r\n"
        ).encode("ascii")
        return encode_warc_record(
            "response", src, f"<urn:uuid:redir-{tag}>",
            "2026-01-01T00:00:00Z", payload,
        )

    # a redirect LOOP (the real-web staple): resolution must flag it
    # cyclic and leave it out of the rewrite
    records.append(
        _redirect_record(
            "http://site0.example.com/loop/a", "/loop/b", "loop-a"
        )
    )
    records.append(
        _redirect_record(
            "http://site0.example.com/loop/b", "/loop/a", "loop-b"
        )
    )
    for i in range(n_pages):
        j1, j2 = (7 * i + 3) % n_pages, (13 * i + 5) % n_pages
        # schema.org annotations for the --structured-data surface:
        # every 3rd page a JSON-LD Article (2 props), every 4th a
        # microdata Person (2 props); scripts are DROP_TAGS so the
        # extraction spans are untouched
        sd_head = (
            '<script type="application/ld+json">{"@type":"Article",'
            f'"headline":"Page {i}","position":{i % 9}}}</script>'
            if i % 3 == 0 else ""
        )
        sd_body = (
            '<div itemscope itemtype="https://schema.org/Person">'
            f'<span itemprop="name">Author {i % 13}</span>'
            f'<meta itemprop="affiliation" content="site{i % n_domains}">'
            "</div>"
            if i % 4 == 0 else ""
        )
        if not (i % 14 != 3 and i % 7 == 3):  # page survives robots
            if i % 3 == 0:
                expected["sd_jsonld"] += 2
            if i % 4 == 0:
                expected["sd_microdata"] += 2
        # every 13th page also answers under a moved URL: a 301 from
        # /old/<i> (relative path-absolute Location — resolution is
        # exercised), every 26th behind a 2-hop chain /older → /old →
        # real.  Pages LINK to the /old alias when the target has one,
        # so the link graph only reconciles if redirect resolution
        # rewrites the alias back onto the canonical node.
        if i % 13 == 7:
            records.append(
                _redirect_record(
                    f"http://{_host(i)}/old/{i}", _path(i), f"{i}"
                )
            )
            expected["redirects"] += 1
        if i % 26 == 7:
            records.append(
                _redirect_record(
                    f"http://{_host(i)}/older/{i}", f"/old/{i}",
                    f"{i}-chain", status=302,
                )
            )
            expected["redirects"] += 1
        j2_href = (
            f"http://{_host(j2)}/old/{j2}" if j2 % 13 == 7 else _url(j2)
        )
        html = (
            f"<html><head><title>page {i}</title>{sd_head}</head><body>"
            f"<p>Deterministic prose for page {i} with enough words to "
            f"classify as main content under the density rule.</p>"
            f'<p>Related: <a href="{_url(j1)}">read {j1 % 11}</a> and '
            f'<a href="{j2_href}">see {j2 % 11}</a>.</p>'
            f'<p><a rel="nofollow" href="http://ads.example.net/c">ad'
            f"</a></p>{sd_body}"
            # the site-template footer: IDENTICAL on every page of a
            # domain (and wordy enough that density classification
            # keeps it as content) — the intra-site boilerplate signal
            # jobs/crawl.py --site-boilerplate exists to strip
            f"<p>Site site{i % n_domains} footer: subscribe to the "
            f"site{i % n_domains} newsletter for updates and news from "
            f"our network every week.</p></body></html>"
        ).encode("utf-8")
        # wire-shape matrix: real crawls archive responses AS SENT, so
        # a fifth each arrive gzip'd, zlib-deflated, chunked, and
        # chunked-over-gzip — the decoder must restore identical bytes
        # for the downstream counts to reconcile at all
        wire = [
            {},
            {"content_encoding": "gzip"},
            {"content_encoding": "deflate"},
            {"chunked": True},
            {"content_encoding": "gzip", "chunked": True},
        ][i % 5]
        records.append(
            encode_warc_record(
                "response",
                _url(i),
                f"<urn:uuid:page-{i}>",
                "2026-01-01T00:00:01Z",
                encode_http_response(html, **wire),
            )
        )
        expected["pages"] += 1
        if i % 14 != 3 and i % 7 == 3:
            expected["blocked"] += 1
        if i % 11 == 0:
            messy = (
                f"HTTP://{_host(i).upper()}{_path(i)}?utm_source=feed"
            )
            records.append(
                encode_warc_record(
                    "response",
                    messy,
                    f"<urn:uuid:page-{i}-dup>",
                    "2026-01-01T00:00:02Z",
                    # the IE-era server bug: raw deflate labeled deflate
                    encode_http_response(
                        html, content_encoding="deflate-raw"
                    ),
                )
            )
            expected["pages"] += 1
            if not (i % 14 != 3 and i % 7 == 3):
                # the dup survives robots (same path) and dies at the
                # frontier window instead
                expected["dups"] += 1
            else:
                expected["blocked"] += 1

    for f, start in enumerate(range(0, len(records), per_file)):
        blob = encode_warc_gz(records[start:start + per_file])
        with open(_os.path.join(out_dir, f"crawl-{f:04d}.warc.gz"), "wb") as fh:
            fh.write(blob)
    expected["kept"] = (
        expected["pages"] - expected["blocked"] - expected["dups"]
    )
    return expected
