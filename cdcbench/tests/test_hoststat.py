import pytest

import hoststat


def test_at_reference_speed_scales_by_median_sample():
    ref = hoststat.REF_LOOP_S
    # the host ran the loop at half speed (median 2 x ref): CPU halves
    assert hoststat.at_reference_speed(10.0, [ref, 2 * ref, 2 * ref, 3 * ref, 2 * ref]) \
        == pytest.approx(5.0)
