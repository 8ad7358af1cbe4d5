"""Validation surface ≅ reference LagError (src/lib.rs:758-773), Q1 fixed."""

import numpy as np
import pytest

from time_sift_spark.errors import (
    ColumnNotFoundError,
    EmptyDataError,
    InvalidLagsError,
    InvalidStrideError,
    LagExceedsValueCountError,
)
from time_sift_spark.interop import lag_matrix_2d_np, lag_matrix_np


def test_empty_lags():  # src/lib.rs:496-498
    with pytest.raises(InvalidLagsError):
        lag_matrix_np([1.0, 2.0], [], 0.0)


def test_negative_lag():
    with pytest.raises(InvalidLagsError):
        lag_matrix_np([1.0, 2.0], [-1], 0.0)


def test_empty_data():  # src/lib.rs:500-502
    with pytest.raises(EmptyDataError):
        lag_matrix_np([], [1], 0.0)


def test_lag_exceeds_length_q1_fixed():
    # Q1: reference panics on lag 10 over 4 points (usize underflow at
    # src/lib.rs:520); we raise the intended error.
    with pytest.raises(LagExceedsValueCountError):
        lag_matrix_np([1.0, 2.0, 3.0, 4.0], [10], 0.0)


def test_invalid_stride():  # src/lib.rs:513-515
    with pytest.raises(InvalidStrideError):
        lag_matrix_np([1.0, 2.0, 3.0, 4.0], [1], 0.0, stride=3)


def test_2d_default_stride_q2_fixed():
    # Q2: stride 0 must mean "no padding" (reference defaults to S*L for
    # both layouts, src/lib.rs:688-690, making this case spuriously fail).
    data = np.array([[1.0, 2.0, 3.0, 4.0]])  # 1 series × 4, 2 lags
    out = lag_matrix_2d_np(data, "row", [0, 1], 0.0, 0)
    assert out.shape == (2, 4)


def test_2d_invalid_stride():
    data = np.array([[1.0, 2.0, 3.0, 4.0]])
    with pytest.raises(InvalidStrideError):
        lag_matrix_2d_np(data, "row", [0, 1], 0.0, row_stride=2)


def test_plan_builder_eager_validation(spark):
    from time_sift_spark.operators.lag import lag_features

    df = spark.range(5).withColumnRenamed("id", "t")
    with pytest.raises(InvalidLagsError):
        lag_features(df, "t", "t", [])
    with pytest.raises(ColumnNotFoundError):
        lag_features(df, "nope", "t", [1])


def test_lead_missing_column_raises_column_not_found(spark):
    from time_sift_spark.operators.lag import lead_features

    df = spark.range(5).withColumnRenamed("id", "t")
    with pytest.raises(ColumnNotFoundError):
        lead_features(df, "nope", "t", [1])
