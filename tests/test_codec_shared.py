"""The codec primitives PNG, PDF, TIFF, GIF and JPEG share
(operators/pdf.py), without Spark: PDF's PNG predictors over every row
filter, their malformed inputs, and the one image pixel bound."""

import numpy as np
import pytest

from webtableextractionsystem_spark.operators import gif as G
from webtableextractionsystem_spark.operators import jpeg as J
from webtableextractionsystem_spark.operators import multimodal as MM
from webtableextractionsystem_spark.operators import pdf as P
from webtableextractionsystem_spark.operators import tiff as TF


@pytest.mark.parametrize("cols,colors", [(7, 3), (5, 1), (4, 4)])
def test_pdf_png_predictor_decodes_all_filter_types_mixed_per_row(cols, colors):
    """Each row picks its own PNG filter, as §7.4.4.4 allows for
    Predictor >= 10; a row filtered on its own reads only original
    bytes, so the mixed stream is cut from five whole-image encodings."""
    rng = np.random.default_rng(cols * 10 + colors)
    h, stride = 12, cols * colors
    rows = rng.integers(0, 256, size=(h, stride)).astype(np.int64)
    # few distinct values make Paeth ties (left and up equally near the
    # estimate) common; 0 and 255 push every filter through its wrap
    rows[::2] = rng.choice([0, 1, 2, 254, 255], size=(h // 2, stride))
    encoded = {ft: np.frombuffer(MM._png_filter_rows(rows, colors, ft),
                                 dtype=np.uint8).reshape(h, stride + 1)
               for ft in range(5)}
    types = [0, 1, 2, 3, 4, 4, 3, 2, 1, 0] + rng.integers(0, 5, 2).tolist()
    mixed = np.stack([encoded[ft][y] for y, ft in enumerate(types)])
    assert sorted(set(mixed[:, 0].tolist())) == [0, 1, 2, 3, 4]
    parms = {"Predictor": 15, "Columns": cols, "Colors": colors}
    assert P._apply_predictor(mixed.tobytes(), parms) \
        == rows.astype(np.uint8).tobytes()


def test_pdf_png_predictor_malformed_raises_value_error():
    parms = {"Predictor": 12, "Columns": 4, "Colors": 1}
    with pytest.raises(ValueError, match="length mismatch"):
        P._apply_predictor(b"\0" * 9, parms)
    with pytest.raises(ValueError, match="filter type 5"):
        P._apply_predictor(b"\5" + b"\0" * 4, parms)
    with pytest.raises(ValueError, match="bad PDF predictor 7"):
        P._apply_predictor(b"\0" * 5, {**parms, "Predictor": 7})
    with pytest.raises(ValueError, match="truncated PNG"):
        P._png_unfilter(b"\0" * 9, 2, 4, 1)


def test_one_pixel_bound_for_every_image_codec():
    assert P._MAX_PIXELS == 1 << 26
    for mod in (G, J, MM, TF):
        assert mod._MAX_PIXELS is P._MAX_PIXELS, mod.__name__
