

def test_normalize_expression_shared_with_dedup(spark):
    """Round-16 retirement fixture (size policy's ninth exercise):
    the standalone normalization query left the registry because its
    expression is consumed — and therefore driver-verified — by
    ``dedup_exact_normalized`` on the rotation cadence. This pins the
    identity STRUCTURALLY (dedup binds the very same function object)
    and behaviorally on the adversarial inputs the operators exist for."""
    from mapreduce_hadoop_spark.operators import dedup, textops

    assert dedup.normalize_text_col is textops.normalize_text_col
    assert dedup._NORM_URL_RE is textops._URL_RE
    assert dedup._NORM_WS_RE is textops._WS_RE

    import pyspark.sql.functions as F

    rows = [
        ("  MiXeD   Case\twith  https://a.example/x?y=1 url  ",),
        ("plain",),
        ("", ),
        ("https://only.example/url",),
        ("tabs\t\tand\nnewlines\r\n here",),
    ]
    df = spark.createDataFrame(rows, "text string")
    got = [
        r[0]
        for r in df.select(
            textops.normalize_text_col(F.col("text")).alias("n")
        ).collect()
    ]
    assert got == [
        "mixed case with url",
        "plain",
        "",
        "",
        "tabs and newlines here",
    ]
