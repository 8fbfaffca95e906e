package graft

import graft.queries.{Catalog, Kernels}

/** Bench records shared-cache membership from the kernel registry at
  * run time, so there is no member list left to drift (the round-9
  * q149 and round-12 q240 class). What can still go wrong is the
  * registry's own declarations and its release paths. Every catalog
  * entry is constructed on cleared caches (kernels fill at
  * construction time, no execution needed) and the families it built
  * or hit are read back from the registry's per-session record.
  */
class BenchGroupsSpec extends SparkSpec {

  test("kernel registry: families used, payers build, clearCaches releases") {
    val touched = scala.collection.mutable.Map.empty[String, Set[String]]
      .withDefaultValue(Set.empty)
    val builders = scala.collection.mutable.Map.empty[String, Set[String]]
      .withDefaultValue(Set.empty)
    val everHeld = scala.collection.mutable.Set.empty[Kernels.Kernel[_, _]]
    Catalog.all.toSeq.sortBy(_._1).foreach { case (name, spec) =>
      Catalog.clearCaches(spark)
      // construction failures are CatalogSmokeSpec's job
      scala.util.Try(spec.fn(spark, sf0001))
      Kernels.drainTouched(spark).foreach { case (fam, built) =>
        touched(fam) += name
        if (built) builders(fam) += name
      }
      everHeld ++= Kernels.held(spark)
      Catalog.clearCaches(spark)
      val left = Kernels.held(spark).map(_.family)
      assert(left.isEmpty, s"$name: clearCaches left kernels of $left")
    }

    val families = Kernels.all.map(_.family).distinct
    val unused = families.filterNot(touched.contains)
    assert(unused.isEmpty, s"declared families no catalog entry touches: $unused")
    Kernels.all.foreach { k =>
      k.payer.foreach { p =>
        assert(builders(k.family).contains(p),
          s"family '${k.family}': payer $p does not build it " +
            s"(builders: ${builders(k.family).toSeq.sorted.mkString(", ")})")
      }
    }
    // every kernel held a value at some point, so the per-entry release
    // check above exercised all of their release paths
    val neverHeld = Kernels.all.indices.filterNot(i => everHeld(Kernels.all(i)))
      .map(i => s"#$i (${Kernels.all(i).family})")
    assert(neverHeld.isEmpty, s"kernels no entry builds: $neverHeld")

    // the touched record is released with the values
    Catalog.all("q35_ngram_jaccard_neardup").fn(spark, sf0001)
    Catalog.clearCaches(spark)
    assert(Kernels.held(spark).isEmpty && Kernels.drainTouched(spark).isEmpty)
  }
}
