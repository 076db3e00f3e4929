#!/usr/bin/env python3
"""C printf("%g") fixture for GFormatImpl.g6.

Compiles a small C helper with the installed gcc, feeds it a fixed,
seeded set of doubles and writes one line per value:

    <16 hex digits of the IEEE-754 bits>\t<C printf("%g") text>

GFormatSpec requires GFormatImpl.g6 to reproduce the text byte for byte.
The values cover the generator's double range (+-2^31), 7-digit values
ending in 5 (ties at the sixth digit) at exponents -300..300, exact
integer and half-integer ties, random bit patterns, subnormals, floats
widened to double, and the style-switch edges. NaN and infinities are
left out; GFormatSpec pins their spellings separately. Usage:

    python3 tools/gformat_fixture.py [out.tsv]

The default output is src/test/resources/gformat_fixture.tsv.
"""
import os
import random
import struct
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.normpath(os.path.join(HERE, "..", "src", "test", "resources", "gformat_fixture.tsv"))

HELPER = r"""
#include <stdio.h>
#include <string.h>
int main(void) {
  unsigned long long b;
  double x;
  while (scanf("%llx", &b) == 1) {
    memcpy(&x, &b, sizeof x);
    printf("%016llx\t%g\n", b, x);
  }
  return 0;
}
"""


def bits(x):
    return struct.unpack("<Q", struct.pack("<d", x))[0]


def finite(b):
    return (b >> 52) & 0x7FF != 0x7FF


def values(rnd):
    out = []
    # the generator's double column: (u * 2 - 1) * 2^31, u from 53 bits
    for _ in range(1500):
        u = rnd.getrandbits(53) * (1.0 / (1 << 53))
        out.append(bits((u * 2.0 - 1.0) * 2147483648.0))
    # 7-digit decimals ending in 5 at exponents -300..300 (nearest double)
    for _ in range(1500):
        d = rnd.randrange(100000, 1000000) * 10 + 5
        s = "-" if rnd.random() < 0.5 else ""
        out.append(bits(float(f"{s}{d}e{rnd.randrange(-300, 301) - 6}")))
    # exact ties: d5 * 10^k below 2^53, and half-integers in [1e5, 1e6)
    for _ in range(400):
        d = rnd.randrange(100000, 1000000) * 10 + 5
        out.append(bits(float(d * 10 ** rnd.randrange(0, 10))))
    for _ in range(200):
        out.append(bits(rnd.randrange(100000, 1000000) + 0.5))
    # random bit patterns, finite only
    while len(out) < 4600:
        b = rnd.getrandbits(64)
        if finite(b):
            out.append(b)
    # subnormals
    for _ in range(200):
        out.append(rnd.getrandbits(52) | (rnd.getrandbits(1) << 63))
    out += [1, 0x000FFFFFFFFFFFFF, 0x0010000000000000, 0x7FEFFFFFFFFFFFFF]
    # floats widened to double
    n = 0
    while n < 400:
        f = rnd.getrandbits(32)
        if (f >> 23) & 0xFF != 0xFF:
            out.append(bits(struct.unpack("<f", struct.pack("<I", f))[0]))
            n += 1
    # style-switch edges and their neighbours
    for x in (9.999995e-05, 999999.5, 9999995.0, 0.0001, 9.99995e-05,
              999999.4999, 999999.5001, 1000000.0, 1e-05, 99999.95,
              100000.5, 0.0, -0.0):
        for v in (x, -x):
            b = bits(v)
            out += [b, b + 1, b - 1] if v != 0.0 else [b]
    seen, uniq = set(), []
    for b in out:
        if b not in seen and finite(b):
            seen.add(b)
            uniq.append(b)
    return uniq


def main():
    out = sys.argv[1] if len(sys.argv) > 1 else OUT
    vals = values(random.Random(20261018))
    with tempfile.TemporaryDirectory() as tmp:
        src, exe = os.path.join(tmp, "g.c"), os.path.join(tmp, "g")
        with open(src, "w") as f:
            f.write(HELPER)
        subprocess.run(["gcc", "-O1", "-o", exe, src], check=True)
        feed = "".join(f"{b:016x}\n" for b in vals)
        text = subprocess.run([exe], input=feed, capture_output=True,
                              text=True, check=True).stdout
    with open(out, "w") as f:
        f.write(text)
    print(f"{len(vals)} values -> {out}")


if __name__ == "__main__":
    main()
