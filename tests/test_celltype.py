"""TypeTree classifier battery (H12) — pins reference semantics of
/root/reference/src/tableExtract/TableItem.py:47-96 including its
bug-compatible quirks (decimals/negatives/currency -> 其他类型 because the
charnum gate rejects '.', '-', '$', '￥', '%')."""

import numpy as np
import pytest

from webtableextractionsystem_spark.kernel.celltype import classify_batch, classify_one
from webtableextractionsystem_spark.lexicons import (
    TYPE_DISTANCE,
    TYPE_INDEX,
    TYPE_NAMES,
    build_type_distance_matrix,
)


CASES = [
    ("42", ">=1"),
    ("9", ">=1"),
    ("0", "<=0"),
    ("00", "<=0"),
    ("00.00", "其他类型"),    # '.' rejected by charnum gate despite typeNumLess0
    ("5万", "数字类型"),       # digit + CJK unit suffix
    ("-3", "其他类型"),        # '-' rejected by charnum gate (bug-compatible)
    ("0.5", "其他类型"),       # '.' rejected by charnum gate
    ("￥120", "其他类型"),     # currency prefix rejected by charnum gate
    ("15%", "其他类型"),       # '%' rejected by charnum gate
    ("中文内容", "中文"),
    ("ABC", "大写"),
    ("abc", "小写"),
    ("AbC", "大小写混合"),
    ("abc123", "字符类型"),
    ("中文abc", "字符类型"),
    ("", "标点类型"),
    ("  ", "标点类型"),
    ("，。！", "标点类型"),
    ("...", "标点类型"),
    ("http://example.com/x", "超链接"),
    ("https://baike.baidu.com/item/abc", "超链接"),
    ("你好, 世界", "其他类型"),  # mixed CJK + punctuation
]


@pytest.mark.parametrize("content,expected", CASES)
def test_classify(content, expected):
    assert TYPE_NAMES[classify_one(content)] == expected


def test_img_wins():
    assert TYPE_NAMES[classify_one("anything", has_img=True)] == "图片"


def test_vectorized_matches_scalar():
    contents = [c for c, _ in CASES]
    got = classify_batch(contents, [False] * len(contents))
    assert [TYPE_NAMES[t] for t in got] == [e for _, e in CASES]


def test_distance_matrix_symmetry_and_values():
    m = build_type_distance_matrix()
    assert (m == m.T).all()
    assert (np.diag(m) == 0).all()
    t = TYPE_INDEX
    # siblings at depth 3: up to common parent 英文 -> +2+2? no: same level,
    # walk both up once each iteration => distance 2 per level
    assert m[t["大写"], t["小写"]] == 2
    # 中文 (depth 3) vs 英文... 中文 depth: 类型>字符和数字>字符类型>中文 = 3
    assert m[t["中文"], t["英文"]] == 2
    # 大写 (4) vs 中文 (3): 1 up + both-up... 大写->英文 (+1), 英文 vs 中文 same
    # level -> +2 = 3
    assert m[t["大写"], t["中文"]] == 3
    # 图片 vs 超链接: siblings at depth 1 -> 2
    assert m[t["图片"], t["超链接"]] == 2
    # <=0 vs 中文: depth 3 both, parents 数字类型 vs 字符类型 -> +2, then
    # 字符和数字 == 字符和数字 -> total 4
    assert m[t["<=0"], t["中文"]] == 4
    assert TYPE_DISTANCE.shape == (len(TYPE_NAMES), len(TYPE_NAMES))
