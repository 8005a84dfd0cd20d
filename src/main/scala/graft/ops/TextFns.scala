package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

/** Shared text-column builders used across the dedup/text/hygiene
  * modules — one implementation so the shingle definition can't drift
  * between candidate generation, counting, and decontamination. */
object TextFns {

  /** One greedy left-to-right BPE merge pass: every adjacent (l, r)
    * pair in `units` collapses to the merged symbol, scanning once
    * (so "a a a" under (a,a) gives ["aa","a"], never ["a","aa"]).
    * THE single definition of the merge semantics — the trainer
    * applies it per learned rule (column l/r), the encoder per merge
    * table entry (literal l/r), and [[applyMergeSql]] is its DuckDB
    * spelling for the oracles; keeping one source prevents the four
    * copies from drifting apart. */
  def applyMerge(units: Column, l: Column, r: Column): Column =
    aggregate(units, array().cast("array<string>"),
      (acc, u) => when(
        size(acc) > 0 && element_at(acc, -1) === l && u === r,
        concat(slice(acc, lit(1), size(acc) - 1), array(concat(l, r))))
        .otherwise(concat(acc, array(u))))

  def applyMerge(units: Column, l: String, r: String): Column =
    applyMerge(units, lit(l), lit(r))

  /** DuckDB spelling of the same greedy merge pass. `l`/`r` are SQL
    * expressions (string literals or winner-row columns); the
    * singleton-list transform gives list_reduce its empty-accumulator
    * start, and the len-0 guard covers empty unit arrays, which
    * list_reduce rejects. */
  def applyMergeSql(units: String, l: String, r: String): String =
    s"""CASE WHEN len($units) = 0 THEN CAST([] AS VARCHAR[])
       | ELSE list_reduce(list_transform($units, u -> [u]),
       |   (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = $l AND x[1] = $r
       |   THEN acc[1:len(acc) - 1] || [$l || $r] ELSE acc || x END) END"""
      .stripMargin.replaceAll("\n", "")

  /** Word k-grams as a `transform` over a token array, guarded for docs
    * shorter than k. `transform` is a CodegenFallback higher-order
    * function: it runs interpreted, once per row, even inside a
    * codegen'd stage. `words` is inlined into the lambda, so it should
    * be a reference to a materialized array column: passing `split(...)`
    * directly re-splits the text at every `element_at` in the lambda,
    * k splits per gram and O(words²) per doc (the optimized plan shows
    * `element_at(split(text, ' ', -1), lambda x)` inside the
    * `transform`). The corpus shingle builders in Dedup, Pipeline and
    * Text still pass `split(...)`. */
  def wordGrams(words: Column, k: Int): Column =
    when(size(words) < k, array().cast(ArrayType(StringType)))
      .otherwise(transform(
        sequence(lit(1), size(words) - (k - 1)),
        i => concat_ws(" ", (0 until k).map(o => element_at(words, i + o)): _*)))

  /** Adjacent element pairs of an array as (l, r) structs, guarded for
    * single-element arrays (BPE pair counting). */
  def adjacentPairs(units: Column): Column =
    when(size(units) < 2, array().cast("array<struct<l:string,r:string>>"))
      .otherwise(transform(
        sequence(lit(1), size(units) - 1),
        i => struct(element_at(units, i).as("l"), element_at(units, i + 1).as("r"))))
}
