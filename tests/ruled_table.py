"""A ruled table of 2 rows and 3 columns of text, ``v00`` to ``v12`` in
row-major order, under the line ``Stock``, drawn on a one-page text-layer
PDF: a vector-PDF payload as it is, an image payload once rendered."""

from img2table_spark.kernels.encoders import build_text_pdf, pdf_rect_op, pdf_text_op

VALUES = [f"v{r}{c}" for r in range(2) for c in range(3)]


def ruled_table_pdf() -> bytes:
    ops = [pdf_rect_op(40, 180 - r * 30, 240, 1.2) for r in range(3)]
    ops += [pdf_rect_op(40 + c * 80, 120, 1.2, 60) for c in range(4)]
    ops += [pdf_text_op(48 + c * 80, 163 - r * 30, f"v{r}{c}") for r in range(2) for c in range(3)]
    ops.append(pdf_text_op(40, 200, "Stock"))
    return build_text_pdf([(320, 240, "\n".join(ops).encode(), [])])
