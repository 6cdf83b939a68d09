"""Approx-quantile time reducers (the reference's reduce_time.cpp:355
future-work note) against the exact type-7 kernels.

The module name predates the reducers' current scope: it once also held
an as-of join, which left the package with the event-stream family. The
name is kept so that this test's id stays stable."""


def test_approx_quantile_reducers(spark):
    """approx_median/Q1/Q3 (the reference's reduce_time.cpp:355 TODO):
    sketch results land within the documented rank-error bound of the
    exact type-7 kernels on the formula cube."""
    from gdalcubes_cpp_spark.sources.collection import formula_cube
    from gdalcubes_cpp_spark.view import CubeView

    v = CubeView.create(left=0.0, right=8.0, bottom=0.0, top=6.0, nx=8,
                        ny=6, t0="2020-01-01", nt=40, dt="P1D",
                        chunk_size=(8, 6, 8))
    cube = formula_cube(spark, v, {
        "B1": "CAST((it*37 + iy*11 + ix*5) % 101 AS DOUBLE)"})
    got = cube.reduce_time([("approx_median", "B1"), ("median", "B1"),
                            ("approx_Q1", "B1"), ("Q1", "B1")]).df.toPandas()
    assert len(got) == v.ny * v.nx
    # the sketch returns TRUE SAMPLES (integers here, unlike the exact
    # type-7 kernel which interpolates midpoints at even n) ...
    assert (got["B1_approx_median"] % 1 == 0).all()
    assert (got["B1_approx_Q1"] % 1 == 0).all()
    # ... and at accuracy 10000 over 40 samples/cell the rank error is
    # sub-sample: the sketch value sits within one value-step of the
    # exact quantile (value steps here are multiples of the formula
    # stride; 3.0 bounds the largest adjacent gap at these params)
    assert (abs(got["B1_approx_median"] - got["B1_median"]) <= 3.0).all()
    assert (abs(got["B1_approx_Q1"] - got["B1_Q1"]) <= 3.0).all()
