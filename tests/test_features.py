"""Feature kernel parity vectors ported from the reference test suite.

Sources: /root/reference/test/test_kohlschuetter.py:281-305,
test/test_weninger.py:6-21, test/test_util.py:9-29, test/test_lcs.py:4-8.
"""

import numpy as np
import pytest

from dragnet_spark.kernels import blocks as B
from dragnet_spark.kernels import evaluation_metrics
from dragnet_spark.kernels.lcs import check_inclusion_ex
from dragnet_spark.kernels.features import compute, n_features
from dragnet_spark.kernels.features.kohlschuetter import kohlschuetter_features
from dragnet_spark.kernels.features.weninger import sx_sdx
from dragnet_spark.kernels.features.css import css_features
from dragnet_spark.kernels.features.readability import readability_features


def blockify_plain(s):
    return B.blockify(s, do_tagcount=False, do_css=True, do_readability=False)


class TestKohlschuetter:
    def test_small_doc(self):
        with pytest.raises(ValueError):
            kohlschuetter_features(blockify_plain("<html> <p>a</p> <div>b</div> </html>"))

    def test_transform(self):
        s = ("<html> <p>first </p> <div> <p>second block with "
             "<a href=''>anchor</a> </p> <p>the third block</p> </div> </html>")
        blks = blockify_plain(s)
        assert [b.text for b in blks] == [
            'first', 'second block with anchor', 'the third block']
        assert [b.link_tokens for b in blks] == [[], ['anchor'], []]
        features = kohlschuetter_features(blks)
        td = [1.0, 4.0, 3.0]
        ld = [1.0, 0.25, 1.0 / 3.0]
        assert np.allclose(features[0, :], [0.0, 0.0, ld[0], td[0], ld[1], td[1]])
        assert np.allclose(features[1, :], [ld[0], td[0], ld[1], td[1], ld[2], td[2]])
        assert np.allclose(features[2, :], [ld[1], td[1], ld[2], td[2], 0.0, 0.0])


def test_weninger_sx_sdx():
    """Golden 10x2 matrix from test/test_weninger.py:6-21 -- also validates
    our scipy-free gaussian_filter1d re-implementation."""
    x = np.linspace(0, 10, 10)
    actual = sx_sdx(x)
    expected = np.array(
        [[0.47448994, 2.22222222],
         [1.18661763, 2.22222222],
         [2.22759261, 2.22222222],
         [3.33348203, 2.22214787],
         [4.44444444, 2.21961138],
         [5.55555556, 2.18707981],
         [6.66651797, 2.02019401],
         [7.77240739, 1.63420945],
         [8.81338237, 1.14625352],
         [9.52551006, 0.79272618]])
    assert np.allclose(actual, expected)
    assert actual.shape == (10, 2)


def test_check_inclusion():
    inc = check_inclusion_ex(
        ["some", "words", "here", "the", "football"],
        ["he", "said", "words", "kick", "the", "football"])[0]
    assert inc == [False, True, False, True, True]


def test_evaluation_metrics():
    predicted = 'skiing sparkling soft snow in soft sun'.split()
    actual = 'soft snow in soft sun soft turns turns'.split()

    def _f1(p, r):
        return 2 * p * r / (p + r)

    p, r = 4.0 / 6.0, 4.0 / 5
    assert evaluation_metrics(predicted, actual) == (p, r, _f1(p, r))
    p, r = 5 / 7.0, 5 / 8.0
    assert evaluation_metrics(predicted, actual, bow=False) == (p, r, _f1(p, r))


def test_feature_union_width():
    s = ("<html> <p>first paragraph of text</p> <div> <p>second block with "
         "some longer content here</a> </p> <p>the third block</p> </div> </html>")
    blks = B.blockify(s)  # default: tagcount + readability, no css
    mat = compute(blks)
    assert mat.shape == (3, 9)
    assert n_features() == 9


def test_css_features_shape():
    s = """<div id='content'><p class='comment meta'>one two three</p>
           <p>x</p><p class='nav'>y</p></div>"""
    blks = B.blockify(s, do_tagcount=False, do_css=True, do_readability=False)
    mat = css_features(blks)
    # 10 id tokens ('ss' listed twice in the reference) + 26 class tokens
    assert mat.shape == (len(blks), 36)
    class_tokens = ['menu', 'widget', 'nav', 'share', 'facebook', 'cat',
                    'top', 'content', 'item', 'twitter', 'button', 'title',
                    'header', 'ss', 'post', 'comment', 'meta', 'alt', 'time',
                    'depth', 'thread', 'author', 'tools', 'reply', 'url',
                    'avatar']
    # block 0 carries class='comment meta' from its block-start <p>
    assert mat[0, 10 + class_tokens.index('comment')] == 1.0
    assert mat[0, 10 + class_tokens.index('meta')] == 1.0
    assert mat[2, 10 + class_tokens.index('nav')] == 1.0


def test_readability_feature_sane():
    blks = B.blockify(
        """<html><body><div class='article'>
        <p>%s</p><p>%s</p><p>short</p>
        </div><div class='footer'><a href='x'>%s</a></div></body></html>"""
        % ('long content word ' * 10, 'more real content here ' * 8,
           'footer link text ' * 6))
    feats = readability_features(blks)
    assert feats.shape == (len(blks), 1)
    # the long content paragraphs share a valid ancestor -> near-max score
    assert feats[0, 0] > 0.5
    assert np.all(feats >= 0.0)
    assert np.all(feats <= 1.0)
