package graft.functions

/** Shared text-shingling / hashing expression builders for the D/F
  * operator families. Both sides of each pair (Spark SQL expr string,
  * DuckDB SQL string) are kept adjacent so the semantics stay mirrored:
  * 1-based element access (element_at / duck list indexing), md5-hex
  * lexicographic minima (engine-neutral — no integer hash available in
  * both engines), guarded empty shingle lists (Spark's sequence(1,0)
  * would count DOWN, DuckDB's generate_series(1,0) is empty).
  */
object TextFns {

  /** whitespace tokens */
  val toksSpark = "split(text, ' ')"
  val toksDuck = "string_split(text, ' ')"

  /** distinct 3-gram word shingles, via the native codegen'd
    * [[graft.functions.Shingle3]] expression (map-only, one compiled
    * loop per row). The declarative equivalent — three aligned slices
    * zip_with'd together then array_distinct — is interpreted
    * per-element and was the hottest projection in the dedup family;
    * a window/lead formulation is codegen'd but shuffles the token
    * stream. Needs graft's functions on the session (see
    * [[GraftFunctions]]). */
  val shSpark: String = "graft_shingle3(split(text, ' '))"

  val shDuck: String =
    "list_distinct(list_transform(generate_series(1, GREATEST(len(string_split(text, ' ')) - 2, 0)), " +
      "i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1] || ' ' || string_split(text, ' ')[i + 2]))"

  /** normalized text (lowercase, collapsed whitespace, trimmed) */
  val normSpark = "trim(regexp_replace(lower(text), ' +', ' '))"
  val normDuck = "trim(regexp_replace(lower(text), ' +', ' ', 'g'))"

  /** language stopword membership sets (n-gram-heuristic lang id) */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "de", "y", "es"),
    "fr" -> Seq("le", "la", "et", "les", "des"))

  def hitsSpark(lang: String): String = {
    val set = stopwords(lang).map(w => s"'$w'").mkString(", ")
    s"size(filter(split(text, ' '), t -> t IN ($set)))"
  }

  def hitsDuck(lang: String): String = {
    val set = stopwords(lang).map(w => s"'$w'").mkString(", ")
    s"len(list_filter(string_split(text, ' '), t -> t IN ($set)))"
  }
}
