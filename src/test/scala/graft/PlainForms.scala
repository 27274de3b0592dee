package graft

import org.apache.spark.sql.{Column, functions => F}

/** The plain Spark forms of the `plans/` kernels: built-in functions
  * and higher-order functions only. Each is its kernel's executable
  * spec; the kernel stays because it measured faster than this form
  * cold (SCALE.md §kernels), and PropertySpec compares the two on
  * adversarial inputs.
  */
object PlainForms {

  /** Morton interleave of the low 32 bits of a and b with the
    * part1by1 shift/mask steps. */
  def zvalue(a: Column, b: Column): Column = {
    def part1by1(x: Column): Column =
      Seq(16 -> 0x0000FFFF0000FFFFL, 8 -> 0x00FF00FF00FF00FFL,
        4 -> 0x0F0F0F0F0F0F0F0FL, 2 -> 0x3333333333333333L,
        1 -> 0x5555555555555555L).foldLeft(
          x.cast("long").bitwiseAND(F.lit(0xFFFFFFFFL))) {
        case (v, (s, m)) => v.bitwiseOR(F.shiftleft(v, s)).bitwiseAND(F.lit(m))
      }
    part1by1(a).bitwiseOR(F.shiftleft(part1by1(b), 1))
  }

  private val zero = F.lit(0.0)

  /** Σ a_i·b_i in double, left to right, over the shorter array
    * (zip_with pads the longer one's tail with NULLs, which add 0). */
  def dot(a: Column, b: Column): Column =
    F.aggregate(
      F.zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      zero, (s, v) => s + F.coalesce(v, zero))

  def norm(a: Column): Column =
    F.sqrt(F.aggregate(a, zero, (s, x) =>
      s + F.coalesce(x.cast("double") * x.cast("double"), zero)))

  /** 0.0 when either norm is 0, as the kernel guards; NULL when either
    * side is NULL (the guard alone would give 0.0 for a zero vector
    * beside a NULL one). */
  def cosine(a: Column, b: Column): Column = {
    val na = norm(a)
    val nb = norm(b)
    F.when(a.isNotNull && b.isNotNull,
      F.when(na === 0.0 || nb === 0.0, 0.0).otherwise(dot(a, b) / (na * nb)))
  }

  /** The r15 expression tree the SRP kernel replaced: bit i set when
    * v · planes(i) > 0, OR-reduced. */
  def srpBits(v: Column, planes: Seq[Array[Float]]): Column =
    planes.zipWithIndex.map { case (h, i) =>
      F.when(dot(v, F.typedlit(h)) > 0d, F.lit(1L << i)).otherwise(F.lit(0L))
    }.reduce(_.bitwiseOR(_))

  /** Smallest (position, shard) at or after `h`, wrapping to the ring's
    * global minimum. */
  def ringSuccessor(h: Column, r: Seq[(Long, Int)]): Column = {
    val arr = F.array(r.map { case (p, sh) =>
      F.struct(F.lit(p).as("p"), F.lit(sh).as("s")) }: _*)
    F.coalesce(
      F.array_min(F.filter(arr, x => x.getField("p") >= h)),
      F.array_min(arr)).getField("s")
  }

  /** q106's original probe: count of elements whose probe bits are all
    * set, over SQL column names. */
  def bloomCountHits(sh: String, bf: String, numBits: Int,
                     numHashes: Int): Column =
    F.expr(s"""cast(size(filter(transform($sh, s -> xxhash64(s)), h ->
        ${graft.text.Bloom.mightContainHashExpr(bf, "h", numBits,
          numHashes)})) as bigint)""")

  /** Lowercase, split on non-[a-z0-9] runs, drop empties. */
  def tokens(text: Column): Column =
    F.filter(F.split(F.lower(text), "[^a-z0-9]+"), x => x =!= "")

  /** Distinct word n-grams in first-occurrence order; the token array
    * is bound once as a lambda variable. */
  def shingles(text: Column, n: Int): Column =
    F.when(text.isNotNull,
      F.element_at(F.transform(F.array(tokens(text)), t =>
        F.when(F.size(t) >= n,
          F.array_distinct(F.transform(F.sequence(F.lit(0), F.size(t) - n),
            i => F.concat_ws(" ", F.slice(t, i + 1, F.lit(n))))))
          .otherwise(F.array().cast("array<string>"))), 1))

  /** Codepoints of a string, one per character (`ascii` returns the
    * first character's codepoint, surrogate pairs included). */
  private def codepoints(s: Column): Column =
    F.transform(F.regexp_extract_all(s, F.lit("(?s)."), F.lit(0)),
      c => F.ascii(c).cast("long"))

  def packedTrigrams(text: Column): Column =
    F.when(text.isNotNull,
      F.element_at(F.transform(F.array(codepoints(F.lower(text))), c =>
        F.when(F.size(c) >= 3,
          F.transform(F.sequence(F.lit(0), F.size(c) - 3), j =>
            F.shiftleft(c.getItem(j), 42)
              .bitwiseOR(F.shiftleft(c.getItem(j + 1), 21))
              .bitwiseOR(c.getItem(j + 2))))
          .otherwise(F.array().cast("array<bigint>"))), 1))

  /** The q42 oracle's two codepoint folds, packed. */
  def polyHash62(text: Column): Column =
    F.element_at(F.transform(F.array(codepoints(text)), c =>
      F.shiftleft(F.aggregate(c, F.lit(0L),
          (a, x) => (a * 31 + x) % 2147483647L), 31)
        .bitwiseOR(F.aggregate(c, F.lit(0L),
          (a, x) => (a * 131 + x) % 2147483629L))), 1)

  /** One left fold per length-n window (the q206 oracle's form). */
  def rollingHashes(text: Column, n: Int): Column =
    F.when(text.isNotNull,
      F.element_at(F.transform(F.array(codepoints(text)), c =>
        F.when(F.size(c) >= n,
          F.transform(F.sequence(F.lit(0), F.size(c) - n), q =>
            F.aggregate(F.slice(c, q + 1, F.lit(n)), F.lit(0L),
              (h, x) => (h * 31 + x) % 1000003L)))
          .otherwise(F.array().cast("array<bigint>"))), 1))
}
