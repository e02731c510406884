"""Golden Gorilla bytes: the stored blob format must not drift.

Each digest is the sha256 of ``gorilla_encode`` output recorded when the
store still had three encoders (a per-point bit writer below 192 points,
a single-blob vectorized body and ``gorilla_encode_multi``). The one
remaining encoder must reproduce every digest, both through the
``gorilla_encode`` wrapper and with all cases packed into one
``gorilla_encode_multi`` batch.

Inputs are plain integer/float arithmetic (no RNG streams), so the
fixtures cannot move with a numpy upgrade.
"""

import hashlib

import numpy as np
import pytest

from sen2rts_spark.kernels.gorilla import (gorilla_decode, gorilla_encode,
                                           gorilla_encode_multi)

SIZES = (1, 2, 3, 50, 191, 192, 193, 366, 2048)


def _series(case: str, n: int):
    i = np.arange(n, dtype=np.int64)
    wave = np.round(np.sin(i * 0.37) * 0.8 + np.cos(i * 0.011) * 0.15, 4)
    daily = 1_600_000_000 + i * 86400
    if case == "typical":
        # jittered hourly cadence: dods fall in every class up to 12 bits
        steps = 3600 + (i * 7919) % 4001 - 2000
        return 1_600_000_000 + np.cumsum(steps), wave
    if case == "constant":
        return daily, np.full(n, 0.4321)
    if case == "special":
        odd_nan = np.array([0x7FF8_0000_0000_BEEF], np.uint64).view(np.float64)
        specials = np.array([np.nan, np.inf, -np.inf, -0.0, 0.0,
                             odd_nan[0], 1.5])
        vals = wave.astype(np.float64).copy()
        vals[i % 3 == 0] = specials[(i // 3) % len(specials)][i % 3 == 0]
        return daily, vals
    if case == "dod64":
        # delta-of-delta beyond +-2048 takes the 64-bit class
        steps = 1 + (i % 3) * 100_000 + (i % 7) * 3
        return np.cumsum(steps), wave
    if case == "near_constant":
        # XORs confined to low mantissa bits: the 6-bit lead field caps
        # at 31
        return daily, 1000.0 + (i * 7 % 5) * 2.0 ** -30
    if case == "negative_ts":
        steps = 60 + (i * 31) % 500
        return -1_000_000_000 + np.cumsum(steps) - 7 * n, -wave
    raise ValueError(case)


CASES = ("typical", "constant", "special", "dod64", "near_constant",
         "negative_ts")

GOLDEN = {
    "typical/1":
        "7065fdd2bd1ef52e455781a8666d0fcb2f5f5db26cf2bf2ef290f5e9c6700fc8",
    "typical/2":
        "c476c3c851c22039fc8a91a4490715752ffffd0871b7e026cbceaa8412de241f",
    "typical/3":
        "509e727a428f38df54707856021d17809b6d45da2fc6dcdc10e0173ddbf09fe5",
    "typical/50":
        "6b25c053eeb376cdeb258e304aad6f0dffed75938154853dc6939f18d9105a54",
    "typical/191":
        "a97d6b7dff7c475007a6506b813399dbea7b251ae899942c005dca1ab5562485",
    "typical/192":
        "c02c452d351d7245bd58e7676ff52b40523c76704f7cb8efc916bbd6a5638baa",
    "typical/193":
        "025da86adeb1e3ecc65df0871023fc8f41fa3206cbcba4ef1d8d0e0c368c3109",
    "typical/366":
        "5f74f6cf21b4e65ebf2671ede539e517a3b904ca5c49e6f4501f57b653f80897",
    "typical/2048":
        "d922ebcd89c3aac78095feb6e2bffaa556b99cb42c656169a8da598a236dc973",
    "constant/1":
        "b4c5237c08fea14d871ae4c24c404f53d73473a6bf47998375c934c012df9b59",
    "constant/2":
        "4da36c9d866aa5d01c6468d40d4bca36460f56eaaf3e203097b789b8a80e56a1",
    "constant/3":
        "ae2c401b23e9dfb2b9aed167f6a6301a742115e4de8d69af688b4126ed6075d1",
    "constant/50":
        "e680b92b615ae8fb8723ffecf89e7e86ffef6d0950c981e995e65baf994c63b6",
    "constant/191":
        "a2ec158b4e355776d069f86425a0e9b59a917ed7c394195e4f11e4c89bc2059a",
    "constant/192":
        "c1aa3b514a0eacf92d84b7054e9832ea05ef8e1068f4e659ff4bc3f6d3cce5b2",
    "constant/193":
        "91786eb8d21b35b29eda04104ad0917dc2e441c868a249f3a584ce75f449b029",
    "constant/366":
        "7c384cec8d5f242af56abf296471abd8def8da374da4fb3afec22603459e94ac",
    "constant/2048":
        "3f85a1ee94e596f187669014de01bea7eff048e07d22f7f7c5f8ff4dd63e90a0",
    "special/1":
        "6d2c605058fd38cdbeb042434116722897bff0b817da98ebfb191f02cae2de7c",
    "special/2":
        "5491388c748a6ea958073efd95872b72fa99c182b1598a85c72df815564843d2",
    "special/3":
        "c11e0a9b410adbe3512484ae117f09dab4482469ae91ef6662c50994ae1d639c",
    "special/50":
        "494b9f510f31f63247bf288712876fd99aadf839f715903e4102d3595196bc7f",
    "special/191":
        "047e9311f965aaae79c32373a0565bade3b5c62bfc8b0edc9c7d6ef7fdb5e2b9",
    "special/192":
        "ff4bdac45ecce0efdac547b88d88a4cbcd5d6e3212b98272040a56a00bf596b4",
    "special/193":
        "264cea879eb4e344e32bddf74b430d6b55ac2de51c886778cd091ac9904b43b1",
    "special/366":
        "711d2a60f62dad8840c06974b1b20e3c51f71b975111111e44f9bc5377938a8b",
    "special/2048":
        "8094b577fc58466627c877177e788231f87930e5d88751997d4b5ac0b4c37577",
    "dod64/1":
        "c47e109720564a409173bd6c51c985a9648b8b00edeb3b22013ca68ba534c87d",
    "dod64/2":
        "d4e94dda20c35b97bc390525185be2f893e5a5d1532df4da6be1b93eaeafee79",
    "dod64/3":
        "46401718a9450858aec55820068ae011918723d7c5639fe89da178619f860dbc",
    "dod64/50":
        "166f56bde4068f107a170fc591b60d36a4b537d0d77c4e0d1ba1f5e1462bccd2",
    "dod64/191":
        "5b2b769bc35b11dba70e69c5210bdde1ad2d7572305caa3a44285c49ba7cc982",
    "dod64/192":
        "4cbf6e9e9a355c0ffa725b26b2475833da20999bdeeb254553c08b4337b99591",
    "dod64/193":
        "14e9d09c03a96e199abce34e651b411c565ce379a6f413884f1cebfd254db66c",
    "dod64/366":
        "1a4e9c7e845dd754524c4fb0cc1ce47b4f9ad7fb1a43f9d740de64c9defd70d4",
    "dod64/2048":
        "752d2e20e7366ebe17cfe578dc19ef8732441570b309df7edd2e0e9cff0b7fe6",
    "near_constant/1":
        "8da59d9fd13679bd65af86244bbdb59fc4dc8865e3a6a62be68b3a5db928f923",
    "near_constant/2":
        "b7952ac19d20496a12aeef533aab2b0f87bcef2f2cf1038a2fd0e8e868ae4782",
    "near_constant/3":
        "91f8cec3e93a30fc29740f59d934ea4327a1e02b0377e6c2440504573abee985",
    "near_constant/50":
        "78bd37f8c16317a9e856fa1684f7024fe22aacf4c46d9bcd56a5677e31bc3453",
    "near_constant/191":
        "4a6716fa9ffdf4581645a4c70c438fb577483345022618ce86996ec319a64263",
    "near_constant/192":
        "2a02469b00ebd51b4cf60034d82251fd8e0f363693d33b4e8fa9927ccf8c597c",
    "near_constant/193":
        "494b060b80fd2139f0ad0e960d9d5280e4cad34570e446cfdfc2f772f4fc10b2",
    "near_constant/366":
        "dcda77b21457df939f1382a60e787d14966ccfbf3d6b77900416c681417adfba",
    "near_constant/2048":
        "1edd88b51233993b346208e4674b8be0a97c55aef8c45edc6f9fdb9c6e2a799d",
    "negative_ts/1":
        "1bd6b3ba123fb6abee5acbab896afff2414261476fe6b3ec299c1ba1844bd66b",
    "negative_ts/2":
        "5eb8e5d1bb7001d159c9e079174b169b7808c47974b3b602f2410941eee32980",
    "negative_ts/3":
        "4a47aed0532b5b7bc0d90286e1a25cbfc9216997bdd49d6fc57a35c3bde14cba",
    "negative_ts/50":
        "0ac184aa5b846cffff9c6593ebd6f78b2a79953cf8e9bcaa91246f9dc7969a2b",
    "negative_ts/191":
        "fa00b86a1cd68b3e765985282c7b08cc56d37eb57a926ab6a02fc821cf1f9a40",
    "negative_ts/192":
        "fb7fe52728811abda515ba584d1cf0369cb47f5eae981f623df2470ed4ec904e",
    "negative_ts/193":
        "971e851a92329407a0a03fb557988236220aea47911b3e6f62cbc56bcc1cedb3",
    "negative_ts/366":
        "637908e33bcb0dce147e95c5a20e325a09360130302c1ffce74294fb321043b2",
    "negative_ts/2048":
        "25f0b5653e8b7dc8a7ebae13f97ebba8ab4fdbc7abcc7d7bc4a2c6842e75f208",
}


def _digest(blob: bytes) -> str:
    return hashlib.sha256(bytes(blob)).hexdigest()


def test_golden_covers_every_case():
    assert set(GOLDEN) == {f"{c}/{n}" for c in CASES for n in SIZES}


@pytest.mark.parametrize("case", CASES)
def test_encode_matches_golden_digests(case):
    for n in SIZES:
        ts, vals = _series(case, n)
        blob = gorilla_encode(ts, vals)
        assert _digest(blob) == GOLDEN[f"{case}/{n}"], (case, n)
        dts, dvals = gorilla_decode(blob)
        assert np.array_equal(dts, ts)
        assert np.array_equal(dvals.view(np.uint64),
                              np.asarray(vals, np.float64).view(np.uint64))


def test_multi_batch_matches_golden_digests():
    keys, ts_parts, val_parts = [], [], []
    for case in CASES:
        for n in SIZES:
            ts, vals = _series(case, n)
            keys.append(f"{case}/{n}")
            ts_parts.append(ts)
            val_parts.append(vals)
    sizes = np.array([len(t) for t in ts_parts])
    starts = np.concatenate(([0], np.cumsum(sizes)[:-1]))
    data, offs = gorilla_encode_multi(np.concatenate(ts_parts),
                                      np.concatenate(val_parts), starts)
    for g, key in enumerate(keys):
        assert _digest(data[offs[g]:offs[g + 1]]) == GOLDEN[key], key


def test_empty_series_header_only():
    assert gorilla_encode(np.zeros(0, np.int64), np.zeros(0)) == \
        b"GTS1\x00\x00\x00\x00"
